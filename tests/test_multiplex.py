"""Multi-table multiplexed pipeline (VERDICT r5 item 2): ONE streaming
query dispatching an interleaved tagged queue to N per-table sinks —
the reference's single Event_Logs queue with per-event Table_ID
dispatch (transfer_thread.rb:390,566-587)."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from movex_cdc_spark.config.table_config import (
    ColumnCfg,
    EngineConfig,
    ExpressionCfg,
    TableCfg,
    repo_files_config,
)
from movex_cdc_spark.datagen import GenParams, generate_events, replay_oracle
from movex_cdc_spark.lake.append_log import UnkeyedEventLog
from movex_cdc_spark.lake.table import LakeTable
from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA
from movex_cdc_spark.streaming.pipeline import MultiplexedCdcPipeline


def _mixed_config() -> EngineConfig:
    """Three tables, three different capture configs: the standard
    repo_files; a filtered/expression variant; an unkeyed audit log."""
    cfg = repo_files_config()
    # replay_oracle drops EXCLUDE-marked events on ALL ops; the default
    # config conditions cover I/U only — add the D condition so the
    # engine-vs-oracle comparison runs under one filter semantics
    _excl = "content IS NULL OR NOT contains(content, 'EXCLUDE FILTER')"
    cfg.tables["repo_files"].conditions["D"] = _excl
    cfg.tables["repo_files_b"] = TableCfg(
        name="repo_files_b",
        key_cols=["repo", "path"],
        columns=[
            ColumnCfg("repo"),
            ColumnCfg("path"),
            ColumnCfg("commit", log_delete=False),
            ColumnCfg("lang", log_update=False),   # differing column flags
            ColumnCfg("content", log_delete=False),
        ],
        # per-op filter composed WITH the exclude marker (replay_oracle
        # always drops marked events; a condition replaces the default
        # filter, so the test config must re-state it)
        conditions={
            "I": f"lang = 'py' AND ({_excl})",
            "U": f"lang = 'py' AND ({_excl})",
            "D": _excl,
        },
        expressions=[ExpressionCfg(alias="content_len", sql="length(content)")],
        key_handling="P",
    )
    cfg.tables["audit_log"] = TableCfg(
        name="audit_log",
        key_cols=["repo", "path"],
        columns=[ColumnCfg("repo"), ColumnCfg("path"), ColumnCfg("commit"),
                 ColumnCfg("lang"), ColumnCfg("content")],
        key_handling="N",  # unkeyed append path
    )
    return cfg


def _stage_interleaved(spark, tmp_path, per_table, n_files=3):
    """Tag each table's event stream and interleave them into one
    queue ordered by (seq, table) — the single-queue arrival order."""
    from movex_cdc_spark.sources.events import to_multiplex_events

    tagged = []
    for name, ev in per_table.items():
        sdf = spark.createDataFrame(ev.drop(columns=["is_noop"]))
        tagged.append(to_multiplex_events(sdf, name))
    queue = tagged[0]
    for t in tagged[1:]:
        queue = queue.unionByName(t)
    qpdf = queue.toPandas().sort_values(["seq", "table_name"]).reset_index(drop=True)
    d = str(tmp_path / "queue")
    os.makedirs(d, exist_ok=True)
    step = (len(qpdf) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = qpdf.iloc[i * step:(i + 1) * step]
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            os.path.join(d, f"q-{i:03d}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )
    return d


def test_multiplexed_dispatch_matches_per_table_oracles(spark, tmp_path):
    """Interleaved I/U/D for three differently-configured tables through
    ONE query: each keyed table's final state must match its own pandas
    replay oracle (with that table's conditions applied), the unkeyed
    table must hold every validated event, and strays must be
    quarantined — all from one checkpointed stream."""
    cfg = _mixed_config()
    ev_a = generate_events(GenParams(n_events=3000, seed=101))
    ev_b = generate_events(GenParams(n_events=2000, seed=202))
    ev_c = generate_events(GenParams(n_events=500, seed=303))
    per_table = {"repo_files": ev_a, "repo_files_b": ev_b, "audit_log": ev_c}
    # plus rows for a table NOBODY configured
    stray = generate_events(GenParams(n_events=50, seed=404))
    d = _stage_interleaved(
        spark, tmp_path, {**per_table, "vanished_table": stray}
    )

    t_a = LakeTable.create(spark, str(tmp_path / "lake_a"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    t_b = LakeTable.create(spark, str(tmp_path / "lake_b"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    log_c = UnkeyedEventLog.create(spark, str(tmp_path / "log_c"))
    pipe = MultiplexedCdcPipeline(
        spark, cfg,
        sinks={"repo_files": t_a, "repo_files_b": t_b, "audit_log": log_c},
        events_dir=d,
        checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_dir=str(tmp_path / "dl"),
        max_files_per_trigger=1,
    )
    epochs = pipe.run_available_now()
    assert len(epochs) == 3  # one per queue file

    # table A: standard config -> the standard replay oracle
    base_a = pd.DataFrame(columns=["repo", "path", "commit", "lang", "content",
                                   "last_seq", "deleted"])
    want_a = replay_oracle(base_a, ev_a)
    got_a = t_a.read().select("repo", "path", "content_sha").toPandas()
    m = got_a.merge(want_a[["repo", "path", "content_sha"]], on=["repo", "path"],
                    how="outer", indicator=True, suffixes=("_e", "_o"))
    assert (m["_merge"] == "both").all()
    assert (m["content_sha_e"] == m["content_sha_o"]).all()

    # table B: ITS config (lang='py' condition on I/U) -> oracle over the
    # pre-filtered event stream; D rows pass unconditioned
    ev_b_f = ev_b[(ev_b["op"] == "D") | (ev_b["lang"] == "py")]
    want_b = replay_oracle(base_a, ev_b_f)
    got_b = t_b.read()
    # differing column flags: lang is NOT logged on update; expression
    # column landed via schema evolution
    assert "content_len" in got_b.columns
    got_b_pd = got_b.select("repo", "path", "content_sha").toPandas()
    m2 = got_b_pd.merge(want_b[["repo", "path", "content_sha"]], on=["repo", "path"],
                        how="outer", indicator=True, suffixes=("_e", "_o"))
    assert (m2["_merge"] == "both").all()
    assert (m2["content_sha_e"] == m2["content_sha_o"]).all()

    # table C (unkeyed): every validated event appended once, no merge.
    # Its config has NO conditions, so marked events pass — only poison
    # (null content on I/U) and no-op updates are dropped
    valid_c = ev_c[~(ev_c["content"].isna() & ev_c["op"].isin(["I", "U"]))]
    valid_c = valid_c[~valid_c["is_noop"]]
    assert log_c.read().count() == len(valid_c)

    # strays quarantined with the reason, in their own dispatch store
    dl = UnkeyedEventLog.load(spark, str(tmp_path / "dl") + "_dispatch")
    stray_rows = dl.read()
    assert stray_rows.count() == len(stray)
    assert stray_rows.select("error_msg").distinct().collect()[0][0] == "unconfigured table"


def test_multiplexed_per_table_fences_compose(spark, tmp_path):
    """A replayed epoch must be a per-table no-op: each sink fences
    (stream_id, epoch_id) in its own metadata, so re-running the
    foreachBatch body (the crash-mid-dispatch window) applies nothing
    twice."""
    cfg = _mixed_config()
    ev_a = generate_events(GenParams(n_events=800, seed=7))
    ev_b = generate_events(GenParams(n_events=600, seed=8))
    d = _stage_interleaved(spark, tmp_path,
                           {"repo_files": ev_a, "repo_files_b": ev_b}, n_files=1)
    t_a = LakeTable.create(spark, str(tmp_path / "lake_a"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    t_b = LakeTable.create(spark, str(tmp_path / "lake_b"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    log_c = UnkeyedEventLog.create(spark, str(tmp_path / "log_c"))
    pipe = MultiplexedCdcPipeline(
        spark, cfg,
        sinks={"repo_files": t_a, "repo_files_b": t_b, "audit_log": log_c},
        events_dir=d, checkpoint_dir=str(tmp_path / "ck"),
    )
    from movex_cdc_spark.sources.events import MULTIPLEX_EVENTS_SCHEMA

    batch = spark.read.schema(MULTIPLEX_EVENTS_SCHEMA).parquet(d)
    pipe._apply(batch, epoch_id=0)
    va, vb = t_a.current_version(), t_b.current_version()
    # replay the whole dispatch body with the same epoch
    pipe._apply(batch, epoch_id=0)
    assert (t_a.current_version(), t_b.current_version()) == (va, vb)
    lins = pipe.epochs[1]["tables"]
    assert all(lin.get("skipped") for lin in lins.values())

    # a sink-less config table is refused up front
    cfg2 = _mixed_config()
    cfg2.tables["fourth"] = cfg2.tables["repo_files"]
    with pytest.raises(ValueError, match="no sink"):
        pipe.set_config(cfg2)


def test_multiplexed_poison_quarantined_for_every_table(spark, tmp_path):
    """Regression: all tables share ONE dead-letter log, which fences on
    (stream_id, epoch_id) — and the poison append runs even when a
    table's poison slice is empty. Under a single shared stream id the
    first table's append fenced the epoch, silently dropping every later
    table's poison rows. Per-table stream ids must land BOTH tables'
    poison in the SAME epoch."""
    cfg = _mixed_config()
    ev_a = generate_events(GenParams(n_events=400, seed=11,
                                     p_poison=0.0, p_filtered=0.0))
    ev_b = generate_events(GenParams(n_events=400, seed=12,
                                     p_poison=0.0, p_filtered=0.0))
    # craft poison (null content on I) in BOTH tables; lang='py' so the
    # rows pass repo_files_b's I condition and reach the poison split
    for ev in (ev_a, ev_b):
        idx = ev.index[ev["op"] == "I"][:3]
        assert len(idx) == 3
        ev.loc[idx, "content"] = None
        ev.loc[idx, "lang"] = "py"
    d = _stage_interleaved(spark, tmp_path,
                           {"repo_files": ev_a, "repo_files_b": ev_b},
                           n_files=1)
    t_a = LakeTable.create(spark, str(tmp_path / "lake_a"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    t_b = LakeTable.create(spark, str(tmp_path / "lake_b"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    pipe = MultiplexedCdcPipeline(
        spark, cfg,
        sinks={"repo_files": t_a, "repo_files_b": t_b,
               "audit_log": UnkeyedEventLog.create(spark, str(tmp_path / "log_c"))},
        events_dir=d,
        checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_dir=str(tmp_path / "dl"),
    )
    pipe.run_available_now()
    dl = UnkeyedEventLog.load(spark, str(tmp_path / "dl")).read()
    per_stream = {r["stream_id"]: r["n"] for r in
                  dl.groupBy("stream_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_stream.get("cdc-mux:repo_files", 0) >= 3
    assert per_stream.get("cdc-mux:repo_files_b", 0) >= 3


def test_multiplexed_null_table_tag_quarantined(spark, tmp_path):
    """Regression: a NULL table tag is reachable from the tagged Kafka
    source (a malformed wire record parses all-null). It used to either
    crash the epoch (sorted() can't order None against string strays)
    or vanish silently (isin([None]) is NULL, matching nothing). Both
    shapes must dead-letter / count instead."""
    cfg = repo_files_config()
    ev = generate_events(GenParams(n_events=300, seed=77,
                                   p_poison=0.0, p_filtered=0.0))
    ghost = generate_events(GenParams(n_events=20, seed=78,
                                      p_poison=0.0, p_filtered=0.0))
    d = _stage_interleaved(spark, tmp_path,
                           {"repo_files": ev, "ghost_table": ghost}, n_files=1)
    # null the tag on a handful of staged rows — the malformed shape —
    # so ONE batch carries both a string stray and a NULL tag
    f = os.path.join(d, "q-000.parquet")
    pdf = pq.read_table(f).to_pandas()
    null_idx = pdf.index[pdf["table_name"] == "repo_files"][:5]
    pdf.loc[null_idx, "table_name"] = None
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), f,
                   coerce_timestamps="us", allow_truncated_timestamps=True)

    t_a = LakeTable.create(spark, str(tmp_path / "lake_a"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    pipe = MultiplexedCdcPipeline(
        spark, cfg,
        sinks={"repo_files": t_a},
        events_dir=d,
        checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_dir=str(tmp_path / "dl"),
    )
    epochs = pipe.run_available_now()
    assert sum(e["n_strays"] for e in epochs) == len(ghost) + 5
    dl = UnkeyedEventLog.load(spark, str(tmp_path / "dl") + "_dispatch").read()
    by_msg = {r["error_msg"]: r["n"] for r in
              dl.groupBy("error_msg").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_msg == {"unconfigured table": len(ghost), "missing table tag": 5}

    # NULL as the ONLY stray, and no quarantine dir: the rows are
    # dropped but the lineage must still count them (the silent-loss
    # arm of the old bug)
    d2 = _stage_interleaved(spark, tmp_path / "q2",
                            {"repo_files": ev}, n_files=1)
    f2 = os.path.join(d2, "q-000.parquet")
    pdf2 = pq.read_table(f2).to_pandas()
    pdf2.loc[pdf2.index[:3], "table_name"] = None
    pq.write_table(pa.Table.from_pandas(pdf2, preserve_index=False), f2,
                   coerce_timestamps="us", allow_truncated_timestamps=True)
    t_b = LakeTable.create(spark, str(tmp_path / "lake_b"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    pipe2 = MultiplexedCdcPipeline(
        spark, cfg,
        sinks={"repo_files": t_b},
        events_dir=d2,
        checkpoint_dir=str(tmp_path / "ck2"),
    )
    epochs2 = pipe2.run_available_now()
    assert sum(e["n_strays"] for e in epochs2) == 3


def test_multiplexed_counters_and_poison_free_table(spark, tmp_path, monkeypatch):
    """Every mux table runs the flagged flow: each epoch's persisted
    counters equal the pandas counts of that table's slice of the queue
    file (pre-LWW event scope, same as the single-table stream), for a
    COW and a merge-on-read sink. A table whose slice has no poison runs
    no dead-letter append and leaves its dead-letter fence unset, and
    every append that does run joins the query's job group."""
    from dataclasses import replace

    from test_mor import COUNTERS, expected_counters

    from movex_cdc_spark.lake.mor import MergeOnReadTable
    from movex_cdc_spark.operators.apply import DeadLetterTable

    cfg = repo_files_config()
    proto = cfg.tables.pop("repo_files")
    proto.conditions["D"] = "content IS NULL OR NOT contains(content, 'EXCLUDE FILTER')"
    for name in ("cow", "mor"):
        cfg.tables[name] = replace(proto, name=name)
    ev = {"cow": generate_events(GenParams(n_events=1200, seed=61, p_poison=0.05)),
          "mor": generate_events(GenParams(n_events=1000, seed=62, p_poison=0.0))}
    d = _stage_interleaved(spark, tmp_path, ev, n_files=2)
    cow = LakeTable.create(spark, str(tmp_path / "cow"), REPO_FILES_SCHEMA,
                           KEY_COLS, n_buckets=4)
    mor_base = LakeTable.create(spark, str(tmp_path / "mor"), REPO_FILES_SCHEMA,
                                KEY_COLS, n_buckets=4)
    mor = MergeOnReadTable(mor_base, str(tmp_path / "mor-delta"))
    appends = []
    real_append = DeadLetterTable.append

    def recording_append(self, poison, stream_id, epoch_id):
        appends.append((stream_id, spark.sparkContext.getLocalProperty("spark.jobGroup.id")))
        return real_append(self, poison, stream_id=stream_id, epoch_id=epoch_id)

    monkeypatch.setattr(DeadLetterTable, "append", recording_append)
    pipe = MultiplexedCdcPipeline(
        spark, cfg, sinks={"cow": cow, "mor": mor},
        events_dir=d, checkpoint_dir=str(tmp_path / "ck"),
        dead_letter_dir=str(tmp_path / "dl"), metrics_dir=str(tmp_path / "metrics"),
        max_files_per_trigger=1,
    )
    q = pipe.start(available_now=True)
    q.awaitTermination(300)
    assert q.exception() is None
    pipe.metrics.flush()

    rows = pipe.metrics.read().collect()
    assert {r["counter_scope"] for r in rows} == {"valid_events_pre_dedup"}
    for name, events in ev.items():
        want = []
        for f in sorted(os.listdir(d)):
            qf = pd.read_parquet(os.path.join(d, f), columns=["table_name", "seq"])
            seqs = set(qf.loc[qf["table_name"] == name, "seq"])
            want.append(expected_counters(events[events["seq"].isin(seqs)]))
        got = [tuple(r[c] for c in COUNTERS) for r in rows
               if r["stream_id"] == f"cdc-mux:{name}"]
        assert sorted(got) == sorted(want), name
        base = pd.DataFrame(columns=["repo", "path", "commit", "lang", "content"])
        truth = replay_oracle(base, events)[["repo", "path", "content_sha"]]
        state = (pipe.sinks[name].read().select("repo", "path", "content_sha")
                 .toPandas().sort_values(["repo", "path"]).reset_index(drop=True))
        assert state.equals(truth), name

    assert appends and {s for s, _ in appends} == {"cdc-mux:cow"}
    assert {g for _, g in appends} == {str(q.runId)}
    fences = UnkeyedEventLog.load(spark, str(tmp_path / "dl")).meta()["epochs"]
    assert "cdc-mux:mor" not in fences and fences["cdc-mux:cow"] == 1
