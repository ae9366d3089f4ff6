"""Every DedupConfig field must be read somewhere in the product: a field
nothing reads is a knob that does nothing, yet still changes
config_fingerprint() and so invalidates checkpoints and streaming state."""

import dataclasses
import pathlib
import re

from dedup.config import DedupConfig

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_every_config_field_is_read():
    files = sorted((ROOT / "dedup").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    source = "\n".join(p.read_text() for p in files)
    unread = [
        f.name
        for f in dataclasses.fields(DedupConfig)
        if not re.search(rf"\.{f.name}\b", source)
    ]
    assert not unread, f"DedupConfig fields nothing reads: {unread}"
