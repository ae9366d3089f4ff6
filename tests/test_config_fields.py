"""Every DedupConfig field must be read somewhere in the product and set
by some product caller: a field nothing reads is a knob that does nothing,
and a field only tests set still doubles the configurations tests and
benchmarks must cover, while either one changes config_fingerprint() and
so invalidates checkpoints and streaming state. Settings no product caller
sets are ClassVar constants, held to the same read rule; a test that needs
another value patches the class (``monkeypatch.setattr(DedupConfig, name,
value)``). The invariants the constants must keep are checked here."""

import ast
import dataclasses
import pathlib
import re

import pytest

from dedup.config import DEFAULT_CONFIG, DedupConfig
from test_module_reach import _product_sources

ROOT = pathlib.Path(__file__).resolve().parents[1]

FIELDS = [f.name for f in dataclasses.fields(DedupConfig)]
CONSTANTS = [n for n in DedupConfig.__annotations__ if n not in FIELDS]


def test_every_config_field_is_read():
    files = sorted((ROOT / "dedup").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    source = "\n".join(p.read_text() for p in files)
    unread = [n for n in FIELDS + CONSTANTS if not re.search(rf"\.{n}\b", source)]
    assert not unread, f"DedupConfig fields or constants nothing reads: {unread}"


def test_every_config_field_is_set_by_product_code():
    set_names = set()
    for rel in _product_sources():
        tree = ast.parse((ROOT / rel).read_text(), filename=rel)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            if name in ("DedupConfig", "with_"):
                set_names.update(kw.arg for kw in node.keywords)
    unset = [n for n in FIELDS if n not in set_names]
    assert not unset, f"DedupConfig fields no product caller sets: {unset}"


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
    for name in (
        "lev_threshold",
        "lsh_bands",
        "minhash_seed",
        "jaccard_threshold",
        "max_band_group",
        "containment_min_grams",
        "containment_max_partners",
        "top_n_predict",
        "match_accept_ratio",
        "cc_max_iterations",
        "cc_driver_threshold",
    ):
        assert name in CONSTANTS, name
        value = getattr(DedupConfig, name)
        with pytest.raises(TypeError):
            DedupConfig(**{name: value})
        with pytest.raises(TypeError):
            DEFAULT_CONFIG.with_(**{name: value})


def test_fingerprint_hashes_constants():
    """The fingerprint covers the constants too, so the one a warehouse
    was stamped with stays valid when a field becomes a constant. Change
    these pins only on a change that must invalidate persisted state."""
    assert DEFAULT_CONFIG.config_fingerprint() == "88260821ccee3c93"
    # the test session's config
    small = DedupConfig(shuffle_partitions=8, conv_partitions=8)
    assert small.config_fingerprint() == "db9d4cee3ca10877"
    # perfbench at 4 CPUs: every partition count 2 * nproc
    assert small.with_(lev_partitions=8).config_fingerprint() == "6f6e1bab869ca439"
    # the containment entry queries' CONT_CFG
    assert DEFAULT_CONFIG.with_(containment_stride=32).config_fingerprint() == "cd0d3a37ae55074a"
    assert "lev_threshold" in CONSTANTS and "lev_threshold" not in FIELDS
