"""The input generator is a pure function of its seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import FIXTURE_ROWS, digest, fixture_tables, infer_tables  # noqa: E402

SMALL = {name: max(n // 50, 10) for name, n in FIXTURE_ROWS.items()}


def test_same_seed_same_digest(tmp_path):
    fixture_tables(7, str(tmp_path / "a"), SMALL)
    fixture_tables(7, str(tmp_path / "b"), SMALL)
    assert digest(str(tmp_path / "a")) == digest(str(tmp_path / "b"))


def test_different_seed_different_digest(tmp_path):
    fixture_tables(7, str(tmp_path / "a"), SMALL)
    fixture_tables(8, str(tmp_path / "b"), SMALL)
    assert digest(str(tmp_path / "a")) != digest(str(tmp_path / "b"))


def test_infer_tables_seeded(tmp_path):
    counts = infer_tables(3, str(tmp_path / "a"), replicas=3)
    infer_tables(3, str(tmp_path / "b"), replicas=3)
    infer_tables(4, str(tmp_path / "c"), replicas=3)
    assert counts["embeddings"] == 6_000
    assert digest(str(tmp_path / "a")) == digest(str(tmp_path / "b"))
    assert digest(str(tmp_path / "a")) != digest(str(tmp_path / "c"))
