"""Focused tests for the round-8 optimization internals.

- append_snapshots_split must be commit-for-commit equivalent to N
  separate append_snapshot calls (chain shape, manifests, visible
  rows, per-snapshot deltas).
- The Catalyst cell expressions in geo/tiling.py must be
  bit-identical to their numpy twins (cell_of / cells_covering_bbox),
  including on negative coordinates and cell-boundary-adjacent
  values.
"""

import numpy as np
from pyspark.sql import functions as F

from kblock_spark.geo.tiling import (
    _box_cells_expr,
    _cell_expr,
    cell_of,
    cells_covering_bbox,
)
from kblock_spark.io.tableformat import (
    append_snapshot,
    append_snapshots_split,
    current_snapshot_id,
    incremental_read,
    read_manifest,
    read_snapshot,
)


def snapshot_chain(path):
    """Oldest-first snapshot ids via parent links."""
    out = []
    sid = current_snapshot_id(path)
    while sid is not None:
        out.append(sid)
        sid = read_manifest(path, sid).get("parent_id")
    return list(reversed(out))


def _docs(spark, n=60):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("lang"),
    )


def _comparable(m):
    """A manifest minus what legitimately differs between two equal
    histories: commit time, snapshot ids, sequence stamps and data-file
    paths."""
    out = {
        k: v
        for k, v in m.items()
        if k not in ("ts", "snapshot_id", "parent_id")
    }
    out["files"] = [
        {k: v for k, v in e.items() if k not in ("path", "seq")}
        for e in m["files"]
    ]
    out["added"] = len(m["added"])
    return out


def _split_vs_loop(spark, tmp_path, prepare=lambda t: None):
    """Build one table with append_snapshots_split and one with three
    append_snapshot calls (after the same ``prepare``) and assert the
    chains match manifest for manifest."""
    d = _docs(spark).withColumn("__b", F.pmod(F.col("doc_id"), F.lit(3)))
    t_split = str(tmp_path / "t_split")
    t_loop = str(tmp_path / "t_loop")
    prepare(t_split)
    prepare(t_loop)
    n0 = len(snapshot_chain(t_split))
    sids = append_snapshots_split(d.repartition(1), t_split, "__b", [0, 1, 2])
    for i in range(3):
        append_snapshot(
            d.where(F.col("__b") == i).drop("__b").coalesce(1), t_loop
        )
    assert len(sids) == 3
    # same chain, manifest for manifest
    ch_s = snapshot_chain(t_split)
    ch_l = snapshot_chain(t_loop)
    assert len(ch_s) == len(ch_l) == n0 + 3
    for sid_s, sid_l in zip(ch_s, ch_l):
        m_s, m_l = read_manifest(t_split, sid_s), read_manifest(t_loop, sid_l)
        assert _comparable(m_s) == _comparable(m_l), (sid_s, sid_l)
    for sid in ch_s[n0:]:
        assert read_manifest(t_split, sid)["operation"] == "append"
    # same visible rows, and the same per-snapshot incremental delta
    rows_s = {
        (r["doc_id"], r["lang"])
        for r in read_snapshot(spark, t_split).collect()
    }
    rows_l = {
        (r["doc_id"], r["lang"])
        for r in read_snapshot(spark, t_loop).collect()
    }
    assert rows_s == rows_l
    for k, sid_s in enumerate(ch_s[n0:]):
        inc_s = {
            (r["doc_id"], r["lang"])
            for r in incremental_read(spark, t_split, sid_s - 1, sid_s).collect()
        }
        want = {
            (r["doc_id"], r["lang"])
            for r in d.where(F.col("__b") == k).drop("__b").collect()
        }
        assert inc_s == want


def test_append_snapshots_split_equals_n_appends(spark, tmp_path):
    _split_vs_loop(spark, tmp_path)


def test_append_snapshots_split_equals_n_appends_after_spec_revert(
    spark, tmp_path
):
    """On a table whose spec was set and then reverted, the split
    commits must keep the spec-id counter exactly as appends do."""
    from kblock_spark.io.tableformat import set_partition_spec

    def prepare(t):
        append_snapshot(_docs(spark, 6).coalesce(1), t, stat_cols=["doc_id"])
        set_partition_spec(t, [{"col": "lang", "transform": "identity"}])
        set_partition_spec(t, [])

    _split_vs_loop(spark, tmp_path, prepare)


def test_append_snapshots_split_rejects_spec_tables(spark, tmp_path):
    from kblock_spark.io.tableformat import set_partition_spec

    t = str(tmp_path / "t_spec")
    append_snapshot(_docs(spark), t)
    set_partition_spec(t, [{"col": "lang", "transform": "identity"}])
    try:
        append_snapshots_split(
            _docs(spark).withColumn("__b", F.lit(0)), t, "__b", [0]
        )
        raise AssertionError("expected ValueError on spec table")
    except ValueError:
        pass


def test_cell_expr_matches_numpy(spark):
    rng = np.random.default_rng(7)
    cell_deg = 0.003
    lons = np.concatenate(
        [
            rng.uniform(-180, 180, 300),
            # boundary-adjacent values (the floor edge cases)
            np.array([0.0, -0.003, 0.003, 0.0015, -179.9985, 179.9985]),
        ]
    )
    lats = np.concatenate(
        [rng.uniform(-90, 90, 300), np.array([0.0, -0.003, 0.003, 0.0015, -89.9985, 89.9985])]
    )
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"lon": lons, "lat": lats}))
    got = (
        df.select(_cell_expr(F.col("lon"), F.col("lat"), cell_deg).alias("c"))
        .toPandas()["c"]
        .to_numpy()
    )
    want = cell_of(lons, lats, cell_deg)
    assert (got == want).all()


def test_box_cells_expr_matches_numpy(spark):
    rng = np.random.default_rng(13)
    cell_deg = 0.003
    rows = []
    for _ in range(120):
        x0 = float(rng.uniform(-10, 10))
        y0 = float(rng.uniform(-5, 5))
        rows.append((x0, y0, x0 + float(rng.uniform(0, 0.02)),
                     y0 + float(rng.uniform(0, 0.02))))
    # degenerate and boundary-aligned boxes
    rows += [(0.0, 0.0, 0.0, 0.0), (-0.003, -0.003, 0.003, 0.003),
             (0.0015, 0.0015, 0.0015, 0.0015)]
    df = spark.createDataFrame(rows, "xmin double, ymin double, xmax double, ymax double")
    got = df.select(
        _box_cells_expr(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
            cell_deg,
        ).alias("cells")
    ).collect()
    for (x0, y0, x1, y1), r in zip(rows, got):
        want = set(cells_covering_bbox(x0, y0, x1, y1, cell_deg).tolist())
        assert set(r["cells"]) == want, (x0, y0, x1, y1)


# ---- late-round internals: arrays_zip shingles and aggregate-first CMS


def test_trigram_zip_matches_zip_with_builder(spark):
    """_trigram_zip + post-explode concat_ws must produce exactly the
    shingle strings of the zip_with builder it replaced, including the
    <3-token edge cases (empty arrays on both shapes)."""
    from kblock_spark.queries import (
        _trigram_shingles,
        _trigram_zip,
        _zip_shingle_str,
    )

    texts = [
        "", "one", "one two", "a b c", "a b c d",
        "x x x x x", "t1 t2 t3 t4 t5 t6 t7",
    ]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    toks = F.split("text", " ")
    old = (
        d.select(
            "doc_id",
            F.posexplode(_trigram_shingles(toks)).alias("pos", "s"),
        )
        .collect()
    )
    new = (
        d.select(
            "doc_id", F.posexplode(_trigram_zip(toks)).alias("pos", "z")
        )
        .select("doc_id", "pos", _zip_shingle_str("z").alias("s"))
        .collect()
    )
    assert sorted(map(tuple, old)) == sorted(map(tuple, new))


def test_d33_aggregate_first_matches_instance_level_cms(spark, tmp_path):
    """d33's vocabulary-scale build (count per token first, then SUM
    counts into cells) must equal a brute-force CMS built by hashing
    every token INSTANCE — the partial-aggregation identity the
    restructure relies on."""
    import hashlib

    from kblock_spark.queries import _CMS_D, _CMS_W, d33_cms_sketch

    texts = [
        "a a a b", "b c a", "c c c c d", "d e", "a b c d e f",
        "f f a", "g", "g g h h h",
    ]
    spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["tok"]: (r["true_n"], r["cms_n"], r["overcount"])
        for r in d33_cms_sketch(spark, str(tmp_path)).collect()
    }

    def h48(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    counters = {}
    truth = {}
    for t in texts:
        for tok in t.split(" "):
            truth[tok] = truth.get(tok, 0) + 1
            for j in range(_CMS_D):
                cell = h48(f"{tok}#{j}") % _CMS_W
                counters[(j, cell)] = counters.get((j, cell), 0) + 1
    want = {
        tok: (
            n,
            min(
                counters[(j, h48(f"{tok}#{j}") % _CMS_W)]
                for j in range(_CMS_D)
            ),
        )
        for tok, n in truth.items()
    }
    assert set(got) == set(want)
    for tok, (n, est) in want.items():
        assert got[tok] == (n, est, est - n), tok
