import json

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen


def _tables(d):
    return {p.relative_to(d).as_posix(): pq.read_table(p)
            for p in sorted(d.rglob("*.parquet")) if p.is_file()}


@pytest.mark.parametrize("recipe", ["forecast_series", "stream_replay"])
def test_same_seed_same_inputs(tmp_path, recipe):
    a, meta_a = gen.corpus(tmp_path / "a", recipe, 7)
    b, meta_b = gen.corpus(tmp_path / "b", recipe, 7)
    c, _ = gen.corpus(tmp_path / "c", recipe, 8)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert meta_a == meta_b
    assert ta.keys() == tb.keys() and all(ta[k].equals(tb[k]) for k in ta)
    assert any(not ta[k].equals(tc[k]) for k in ta)


def test_cache_reuses_a_complete_corpus(tmp_path):
    d, meta = gen.corpus(tmp_path, "stream_replay", 1)
    first = d / "events.parquet" / "part-000.parquet"
    before = first.stat().st_mtime_ns
    d2, meta2 = gen.corpus(tmp_path, "stream_replay", 1)
    assert (d2, meta2) == (d, meta)
    assert first.stat().st_mtime_ns == before
    assert json.loads((d / "meta.json").read_text()) == meta


def test_invariants_the_oracles_rely_on(tmp_path):
    d, meta = gen.corpus(tmp_path, "forecast_series", 3)
    for name, key in (("orders", "o_orderkey"), ("customer", "c_custkey"),
                      ("events", "event_id"), ("documents", "doc_id"),
                      ("embeddings", "vec_id")):
        ids = pq.read_table(d / f"{name}.parquet", columns=[key])[key].to_numpy()
        assert len(np.unique(ids)) == len(ids), name
        assert meta["rows"][name] == len(ids)
    value = pq.read_table(d / "events.parquet", columns=["value"])["value"].to_numpy()
    assert np.array_equal(np.round(value * 100) / 100, value)
    for p in d.glob("*.parquet"):
        md = pq.ParquetFile(p).metadata
        assert all(md.row_group(i).num_rows <= gen.ROW_GROUP for i in range(md.num_row_groups))
    assert meta["series"]["users"] == 2 * gen.RECIPES["forecast_series"]["users"]


def test_stream_files_plant_late_rows_in_time_order(tmp_path):
    d, meta = gen.corpus(tmp_path, "stream_replay", 5)
    files = sorted((d / "events.parquet").iterdir())
    assert len(files) == meta["stream"]["files"]
    mtimes = [f.stat().st_mtime for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    late = set(meta["stream"]["late_ids"])
    newest = []
    for k, f in enumerate(files):
        t = pq.read_table(f).to_pandas()
        planted = t[t.event_id.isin(late)]
        if k >= 2:
            # older than the watermark the previous micro-batch left behind
            closed = max(newest[: k - 1]) - np.timedelta64(1, "h")
            assert len(planted) and (planted.ts < closed).all()
        else:
            assert planted.empty
        newest.append(t[~t.event_id.isin(late)].ts.max())
    assert meta["stream"]["late_rows"] == len(late)
