"""Seeded input generation is byte-identical for one seed and differs
between seeds."""

import hashlib

from perfbench import inputs


def _digest(tmp_path, name, seed):
    from aperag_spark.synth import build_registry

    reg = build_registry(seed, n_entities=60)
    paths = inputs.write_page_files(inputs.page_rows(seed, 0, 40, reg), str(tmp_path / name), 3)
    return [hashlib.sha256(open(p, "rb").read()).hexdigest() for p in paths]


def test_same_seed_same_bytes(tmp_path):
    assert _digest(tmp_path, "a", 7) == _digest(tmp_path, "b", 7)


def test_other_seed_other_bytes(tmp_path):
    a, b = _digest(tmp_path, "a", 7), _digest(tmp_path, "b", 8)
    assert all(x != y for x, y in zip(a, b))


def test_files_hold_every_row_once(tmp_path):
    import pyarrow.dataset as ds
    from aperag_spark.synth import build_registry

    rows = inputs.page_rows(3, 0, 25, build_registry(3, n_entities=60))
    inputs.write_page_files(rows, str(tmp_path / "p"), 4)
    urls = ds.dataset(str(tmp_path / "p")).to_table(columns=["url"]).column("url").to_pylist()
    assert sorted(urls) == sorted(r["url"] for r in rows)
