"""Model-based fuzz of the table-format DML surface: a random
sequence of append / split append / MOR and CoW upsert /
equality-delete / MOR and CoW predicate-delete / rollback / compaction
/ z-order / partition-spec ops is applied to a real snapshot table AND
to a plain in-memory dict model; after every committing op the
merge-on-read scan must equal the model exactly, and at the end a
pruned point lookup of a present and an absent key must too. This is the test
shape that catches cross-op interaction bugs no single-op test can
(e.g. an eq delete's sequence scoping vs a later rollback, or a
compaction materializing deletes under a pending chain) — each
example replays a different interleaving.

Kept cheap: hypothesis drives op CHOICES only (derandomized, few
examples); every op is one small Spark job.
"""

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from kblock_spark.io.tableformat import (
    append_snapshot,
    append_snapshots_split,
    compact_data_files,
    current_snapshot_id,
    delete_keys_mor,
    delete_where,
    delete_where_mor,
    merge_into,
    merge_into_mor,
    read_manifest,
    read_snapshot,
    rollback_to,
    set_partition_spec,
    zorder_data_files,
)

_OPS = [
    "append", "split", "upsert", "merge", "del_keys", "del_where",
    "delete", "rollback", "compact", "zorder", "spec",
]
# spec op choices: identity, bucket (two moduli, so a later spec can
# re-bucket files an older one wrote) or revert to unpartitioned
_SPECS = [
    [{"col": "doc_id", "transform": "identity"}],
    [{"col": "doc_id", "transform": "bucket", "n": 2}],
    [{"col": "doc_id", "transform": "bucket", "n": 4}],
    [],
]
_UNIQ = [0]  # distinct table dir per hypothesis example (tmp_path is
# function-scoped, shared across examples of one test call)


def _rows_df(spark, rows):
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(rows.items())], "doc_id long, v long"
    )


@given(
    ops=st.lists(
        st.tuples(st.sampled_from(_OPS), st.integers(0, 10**6)),
        min_size=4,
        max_size=7,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dml_sequences_match_model(spark, tmp_path, ops):
    _UNIQ[0] += 1
    t = str(tmp_path / f"tbl{_UNIQ[0]}")
    model: dict[int, int] = {}
    states: dict[int, dict[int, int]] = {}
    next_key = 0

    def commit_state():
        states[current_snapshot_id(t)] = dict(model)

    # every sequence starts with one seed append so DML ops have a table
    seed = {k: k * 3 + 1 for k in range(10)}
    next_key = 10
    append_snapshot(_rows_df(spark, seed), t, stat_cols=["doc_id"])
    model.update(seed)
    commit_state()

    for op, r in ops:
        if op in ("append", "split"):
            n = 3 + r % 8
            batch = {next_key + i: (next_key + i) * 3 + r % 100 for i in range(n)}
            next_key += n
            if op == "append":
                append_snapshot(_rows_df(spark, batch), t, stat_cols=["doc_id"])
            elif read_manifest(t).get("spec"):
                continue  # split appends need a spec-less table
            else:
                append_snapshots_split(
                    _rows_df(spark, batch).withColumn("__b", F.col("doc_id") % 2),
                    t, "__b", [0, 1],
                )
            model.update(batch)
        elif op in ("upsert", "merge"):
            existing = sorted(model)[:: max(1, r % 5 + 1)][:5]
            fresh = [next_key + i for i in range(r % 3)]
            next_key += r % 3
            batch = {k: 10_000 + k + r % 100 for k in [*existing, *fresh]}
            if not batch:
                continue
            merge = merge_into_mor if op == "upsert" else merge_into
            merge(spark, t, _rows_df(spark, batch), "doc_id")
            model.update(batch)
        elif op == "del_keys":
            victims = sorted(model)[r % 3 :: max(1, r % 7 + 2)][:4]
            if not victims:
                continue
            delete_keys_mor(
                spark, t,
                spark.createDataFrame([(k,) for k in victims], "doc_id long"),
                "doc_id",
            )
            for k in victims:
                model.pop(k, None)
        elif op in ("del_where", "delete"):
            m = r % 5 + 2
            delete = delete_where_mor if op == "del_where" else delete_where
            delete(spark, t, f"v % {m} = {r % m}")
            model = {k: v for k, v in model.items() if v % m != r % m}
        elif op == "rollback":
            sid = sorted(states)[r % len(states)]
            rollback_to(t, sid)
            model = dict(states[sid])
        elif op == "compact":
            compact_data_files(spark, t, target_files=2)
        elif op == "zorder":
            zorder_data_files(spark, t, ["doc_id", "v"], target_files=2)
        elif op == "spec":
            set_partition_spec(t, _SPECS[r % len(_SPECS)])
        commit_state()
        got = {
            row["doc_id"]: row["v"]
            for row in read_snapshot(spark, t).collect()
        }
        assert got == model, (op, r, len(got), len(model))

    # a pruned point lookup (bucket/identity/min-max planning) finds a
    # present key and nothing for an absent one
    r_last = ops[-1][1]
    gone = sorted(set(range(next_key)) - set(model)) or [next_key]
    probes = [gone[r_last % len(gone)]]
    if model:
        probes.append(sorted(model)[r_last % len(model)])
    for k in probes:
        got = {
            row["doc_id"]: row["v"]
            for row in read_snapshot(spark, t, prune=("doc_id", k, k))
            .where(F.col("doc_id") == k)
            .collect()
        }
        want = {k: model[k]} if k in model else {}
        assert got == want, f"pruned lookup of {k}"

    # time travel back through every recorded state still reproduces it
    for sid, snap in list(states.items())[-3:]:
        got = {
            row["doc_id"]: row["v"]
            for row in read_snapshot(spark, t, snapshot_id=sid).collect()
        }
        assert got == snap, f"time travel to {sid} diverged"
