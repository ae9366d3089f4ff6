"""Every DedupConfig field must be read somewhere in the product: a field
nothing reads is a knob that does nothing, yet still changes
config_fingerprint() and so invalidates checkpoints and streaming state.
Settings nothing sets are ClassVar constants, held to the same rule, and
the invariants the constants must keep are checked here."""

import dataclasses
import pathlib
import re

import pytest

from dedup.config import DEFAULT_CONFIG, DedupConfig

ROOT = pathlib.Path(__file__).resolve().parents[1]

FIELDS = [f.name for f in dataclasses.fields(DedupConfig)]
CONSTANTS = [n for n in DedupConfig.__annotations__ if n not in FIELDS]


def test_every_config_field_is_read():
    files = sorted((ROOT / "dedup").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    source = "\n".join(p.read_text() for p in files)
    unread = [n for n in FIELDS + CONSTANTS if not re.search(rf"\.{n}\b", source)]
    assert not unread, f"DedupConfig fields or constants nothing reads: {unread}"


def test_constant_invariants():
    # byte_kgram_codes packs 8*k bits into an int64: k > 8 would shift the
    # leading bytes out and silently collide distinct k-grams, breaking the
    # collision-free gram-set invariant that exact Jaccard and containment
    # scoring rely on
    assert 1 <= DedupConfig.k_shingle <= 8
    # the window sketch reuses the PREFIX of the whole-doc permutation
    # table (one deterministic family, one seed)
    assert DEFAULT_CONFIG.containment_num_perm <= DEFAULT_CONFIG.num_perm


def test_constants_cannot_be_set():
    with pytest.raises(TypeError):
        DedupConfig(lev_threshold=95)
    with pytest.raises(TypeError):
        DEFAULT_CONFIG.with_(lsh_bands=16)


def test_fingerprint_hashes_constants():
    """The fingerprint covers the constants too, so the one a warehouse
    was stamped with stays valid when a field becomes a constant. Change
    this pin only on a change that must invalidate persisted state."""
    assert DEFAULT_CONFIG.config_fingerprint() == "88260821ccee3c93"
    assert "lev_threshold" in CONSTANTS and "lev_threshold" not in FIELDS
