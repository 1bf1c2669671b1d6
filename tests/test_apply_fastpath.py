"""Focused tests for the r8 streaming fast-path restructure:

  * ONE probe job carries bucket set + counters + poison count;
  * the dead-letter append is SKIPPED when the epoch has no poison
    (no empty segment write, no metadata commit), and still lands
    exactly-once when poison exists;
  * LakeTable.merge(probe=...) (caller-supplied probe) produces the
    identical final state as the generic path, and the
    written-outside-touched guard still fails loudly on a lying probe.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from movex_cdc_spark.lake.table import LakeTable, bucket_expr
from movex_cdc_spark.operators.apply import (
    KEY_COLS,
    REPO_FILES_SCHEMA,
    DeadLetterTable,
    apply_batch_flagged,
    flag_dispositions,
)


def _events(spark, rows):
    cols = ["seq", "repo", "path", "commit", "lang", "content", "old_content", "op", "ts", "txid"]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf)


def _mk(spark, tmp_path, name):
    return LakeTable.create(
        spark, str(tmp_path / name), REPO_FILES_SCHEMA, KEY_COLS, n_buckets=8
    )


TS = "2024-01-01"


def test_clean_epoch_skips_dead_letter_write(spark, tmp_path):
    t = _mk(spark, tmp_path, "lake")
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    v0 = t.current_version()
    dl_v0 = int(dl.log.meta()["version"])
    clean = flag_dispositions(
        _events(spark, [(1, "r1", "p1", "c1", "py", "x", None, "I", TS, 1),
                        (2, "r2", "p2", "c2", "py", "y", None, "I", TS, 1)])
    )
    lin = apply_batch_flagged(t, clean, epoch_id=0, stream_id="s", dead_letter=dl)
    assert not lin.get("skipped")
    assert lin["n_poison"] == 0
    # no poison -> the dead-letter log must not have committed anything
    assert int(dl.log.meta()["version"]) == dl_v0
    assert t.current_version() > v0
    assert t.read().count() == 2


def test_poison_epoch_quarantines_exactly_once(spark, tmp_path):
    t = _mk(spark, tmp_path, "lake")
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    mixed = flag_dispositions(
        _events(spark, [(1, "r1", "p1", "c1", "py", "x", None, "I", TS, 1),
                        (2, "r2", "p2", "c2", "py", None, None, "I", TS, 1),  # poison
                        (3, "r3", "p3", "c3", "py", "z", None, "QQ", TS, 1)])  # poison
    )
    lin = apply_batch_flagged(t, mixed, epoch_id=0, stream_id="s", dead_letter=dl)
    assert lin["n_poison"] == 2
    assert dl.read().count() == 2
    assert t.read().count() == 1
    # replayed epoch: table fenced, dead letter fenced -> both no-ops
    lin2 = apply_batch_flagged(t, mixed, epoch_id=0, stream_id="s", dead_letter=dl)
    assert lin2.get("skipped")
    assert dl.read().count() == 2
    assert t.read().count() == 1


def test_probe_path_matches_generic_merge(spark, tmp_path):
    """Same batch through merge(probe=...) and the generic persist path
    must land the identical state."""
    import pandas as _pd

    batch_pdf = _pd.DataFrame(
        [("r1", "p1", "c9", "py", "new", 10, "U"),
         ("r9", "p9", "c1", "py", "ins", 11, "I")],
        columns=["repo", "path", "commit", "lang", "content", "seq", "op"],
    )
    base_pdf = _pd.DataFrame(
        [("r1", "p1", "c1", "py", "old", None),
         ("r2", "p2", "c2", "py", "keep", None)],
        columns=["repo", "path", "commit", "lang", "content", "content_sha"],
    )
    states = {}
    for mode in ("probe", "generic"):
        t = _mk(spark, tmp_path, f"lake-{mode}")
        t.overwrite(spark.createDataFrame(base_pdf))
        batch = spark.createDataFrame(batch_pdf).withColumn(
            "content_sha", F.sha2("content", 256)
        )
        if mode == "probe":
            m = t.meta()
            rows = (
                batch.select(
                    bucket_expr(KEY_COLS, m["n_buckets"]).alias("b"),
                    (F.col("repo").isNull() | F.col("path").isNull()).alias("nk"),
                ).distinct().collect()
            )
            t.merge(batch, epoch_id=0,
                    probe=(sorted({r["b"] for r in rows}),
                           any(r["nk"] for r in rows)))
        else:
            t.merge(batch, epoch_id=0)
        states[mode] = {
            (r["repo"], r["path"]): (r["commit"], r["content"], r["last_seq"])
            for r in t.read().collect()
        }
    assert states["probe"] == states["generic"]
    assert ("r9", "p9") in states["probe"] and states["probe"][("r1", "p1")][0] == "c9"


def test_lying_probe_fails_loud(spark, tmp_path):
    t = _mk(spark, tmp_path, "lake")
    batch = spark.createDataFrame(
        pd.DataFrame([("r1", "p1", "c1", "py", "x", 1, "I")],
                     columns=["repo", "path", "commit", "lang", "content", "seq", "op"])
    ).withColumn("content_sha", F.sha2("content", 256))
    real_bucket = batch.select(
        bucket_expr(KEY_COLS, 8).alias("b")
    ).first()["b"]
    wrong = [(real_bucket + 1) % 8]
    with pytest.raises(RuntimeError, match="outside the probed"):
        t.merge(batch, epoch_id=0, probe=(wrong, False))


def _sink(spark, tmp_path, kind):
    from movex_cdc_spark.lake.mor import MergeOnReadTable

    t = _mk(spark, tmp_path, f"lake-{kind}")
    return t if kind == "cow" else MergeOnReadTable(t, str(tmp_path / "delta"))


MIXED = [(1, "r1", "p1", "c1", "py", "x", None, "I", TS, 1),
         (2, "r2", "p2", "c2", "py", None, None, "I", TS, 1),  # poison
         (3, "r3", "p3", "c3", "py", "z", None, "U", TS, 1)]


@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_dead_letter_commit_precedes_sink_commit(spark, tmp_path, kind):
    """Crash ordering on both sink kinds: the concurrent dead-letter
    commit lands before the COW snapshot commit / the MoR delta commit,
    and a failing dead-letter append commits nothing to the sink."""
    from movex_cdc_spark.lake.append_log import UnkeyedEventLog

    sink = _sink(spark, tmp_path, kind)
    dl = DeadLetterTable(spark, str(tmp_path / "dl"))
    order = []
    real_log, real_table = UnkeyedEventLog._write_version, LakeTable._write_version

    def log_commit(self, meta):
        order.append("dl" if self is dl.log else "sink")
        return real_log(self, meta)

    def table_commit(self, meta):
        order.append("sink")
        return real_table(self, meta)

    UnkeyedEventLog._write_version = log_commit
    LakeTable._write_version = table_commit
    try:
        lin = apply_batch_flagged(sink, flag_dispositions(_events(spark, MIXED)),
                                  epoch_id=0, stream_id="s", dead_letter=dl)
    finally:
        UnkeyedEventLog._write_version = real_log
        LakeTable._write_version = real_table
    assert lin["n_poison"] == 1
    assert order == ["dl", "sink"]

    class FailingDeadLetter(DeadLetterTable):
        def append(self, poison, stream_id, epoch_id):
            raise OSError("quarantine store down")

    before = (sink.current_version(),
              None if kind == "cow" else sink.delta.meta()["version"])
    bad = FailingDeadLetter(spark, str(tmp_path / "dl2"))
    with pytest.raises(OSError, match="quarantine store down"):
        apply_batch_flagged(sink, flag_dispositions(_events(spark, MIXED)),
                            epoch_id=1, stream_id="s", dead_letter=bad)
    after = (sink.current_version(),
             None if kind == "cow" else sink.delta.meta()["version"])
    assert after == before
    assert sink.read().count() == 2


def test_dead_letter_worker_joins_the_callers_job_group(spark, tmp_path):
    """The overlapped dead-letter append runs on a worker thread that
    carries the caller's Spark local properties, so its job belongs to
    the streaming batch's job group (query.stop() cancels it), and its
    recorded wall is the append's own, not the merge's."""
    sc = spark.sparkContext
    seen = {}

    class RecordingDeadLetter(DeadLetterTable):
        def append(self, poison, stream_id, epoch_id):
            seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
            return super().append(poison, stream_id=stream_id, epoch_id=epoch_id)

    t = _mk(spark, tmp_path, "lake")
    dl = RecordingDeadLetter(spark, str(tmp_path / "dl"))
    sc.setJobGroup("apply-epoch-0", "flagged apply")
    try:
        lin = apply_batch_flagged(t, flag_dispositions(_events(spark, MIXED)),
                                  epoch_id=0, stream_id="s", dead_letter=dl)
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    assert seen["group"] == "apply-epoch-0"
    assert lin["n_poison"] == 1
    assert 0 < lin["timings"]["dl_append_s"] <= lin["merge_latency_s"]


def test_flagged_flow_with_table_config_matches_generic(spark, tmp_path):
    """flag_dispositions(table_cfg=...) + apply_batch_flagged(table_cfg=...)
    lands the same table, dead letters and schema as apply_batch with the
    same config: per-op conditions with the poison exemption, no-op
    suppression, per-op column flags and expression columns (which read
    the old image, so the flagged cache keeps it)."""
    from movex_cdc_spark.config.table_config import (
        ColumnCfg,
        ExpressionCfg,
        TableCfg,
    )
    from movex_cdc_spark.operators.apply import apply_batch

    cfg = TableCfg(
        name="t",
        key_cols=["repo", "path"],
        columns=[ColumnCfg("repo"), ColumnCfg("path"),
                 ColumnCfg("commit", log_delete=False),
                 ColumnCfg("lang", log_update=False),
                 ColumnCfg("content", log_delete=False)],
        conditions={"I": "lang = 'py'", "U": "lang = 'py'"},
        expressions=[ExpressionCfg(alias="old_len", sql="length(old_content)",
                                   operations=("U",))],
    )
    rows = [(1, "r1", "p1", "c1", "py", "a", None, "I", TS, 1),
            (2, "r2", "p2", "c2", "go", "b", None, "I", TS, 1),      # condition drops
            (3, "r1", "p1", "c3", "py", "aa", "a", "U", TS, 1),      # old_len = 1
            (4, "r3", "p3", "c4", "go", None, None, "I", TS, 1),     # poison, exempt
            (5, "r1", "p1", "c5", "py", "aa", "aa", "U", TS, 1),     # no-op
            (6, "r4", "p4", "c6", "py", "d", None, "I", TS, 1),
            (7, "r4", "p4", "c7", "py", "d", None, "D", TS, 1)]
    ev = _events(spark, rows)
    out = {}
    for mode in ("flagged", "generic"):
        t = _mk(spark, tmp_path, f"lake-{mode}")
        dl = DeadLetterTable(spark, str(tmp_path / f"dl-{mode}"))
        if mode == "flagged":
            flagged = flag_dispositions(ev, table_cfg=cfg)
            assert "old_content" in flagged.columns
            lin = apply_batch_flagged(t, flagged, epoch_id=0, stream_id="s",
                                      dead_letter=dl, table_cfg=cfg)
        else:
            lin = apply_batch(t, ev, epoch_id=0, stream_id="s",
                              dead_letter=dl, table_cfg=cfg)
        assert lin["n_poison"] == 1
        out[mode] = (
            sorted(tuple(r) for r in t.read().drop("content_sha").collect()),
            sorted((r["seq"], r["error_msg"]) for r in dl.read().collect()),
            [f.name for f in t.payload_schema().fields],
        )
    assert out["flagged"] == out["generic"]
    state = {(r[0], r[1]): r for r in out["flagged"][0]}
    assert set(state) == {("r1", "p1")}
    assert "old_len" in out["flagged"][2]
    # a config without expressions does not keep the old image
    assert "old_content" not in flag_dispositions(
        ev, table_cfg=TableCfg(name="t", key_cols=["repo", "path"], columns=cfg.columns)
    ).columns
