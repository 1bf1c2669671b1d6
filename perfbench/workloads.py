"""The benchmark's workloads.

Each workload is a closed loop over pre-staged input: one streaming
query drains the staged files with Trigger.AvailableNow, one file per
trigger, so the next epoch starts only when the previous one is done.
The first ``WARMUP`` data epochs are set-up, the next ``TIMED`` are
measured, and the final zero-row AvailableNow progress (if any) is
dropped. Progress is read from ``recentProgress``; the session sizes
``spark.sql.streaming.numRecentProgressUpdates`` above the epoch count
and the epoch count and row total are checked, so the sample set can
neither truncate nor mix in warm-up epochs.

Correctness gates run after the drain, outside every timed region.

Why these two, and what each layer metric should move:

* ``tail_mux`` is the live-tail regime: one multiplexed query over two
  COW and two merge-on-read tables, small epochs. Per-epoch fixed cost
  dominates: the streaming shell, the generic apply path's
  persist-and-collect probe, one dead-letter append per table, tiny
  jobs and metadata commits, with four dispatch threads sharing the
  cores. Work on the apply flow should move ``lake.merge.probe_s``,
  ``lake.dead_letter_appends`` and ``epoch_p50_s`` here and leave
  ``sessionize`` flat. A MoR compaction-policy change trades
  ``lake.mor_compact_s`` (epoch time) against ``read_s``.
* ``sessionize`` is the state-store layer: the stateful gap sessionizer
  reloads, updates and commits its state every epoch and fires idle
  timers, with no lake path. A sessionizer or state-store change
  should move ``state.update_s``, ``state.commit_s`` and
  ``epoch_p50_s`` here and leave ``tail_mux`` flat.
"""

from __future__ import annotations

import copy
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

import pandas as pd

import stage
import spans as tr

READ_REPEATS = 5  # timed tail_mux read passes, after READ_WARMUP untimed ones
READ_WARMUP = 5  # the read passes keep getting faster over the first ~5
BOOTSTRAP_REPEATS = 3
DRAIN_TIMEOUT_S = 150


class GateError(Exception):
    """A correctness gate failed: the run reports no timing."""


@dataclass
class Outcome:
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    attempted: int
    failed: int
    info: dict = field(default_factory=dict)


# ------------------------------------------------------------ progress
def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        start = (ts - datetime(1970, 1, 1)).total_seconds()
        d = {k: v / 1000.0 for k, v in p.durationMs.items()}
        out.append({
            "batch": p.batchId,
            "rows": p.numInputRows,
            "start": start,
            "end": start + d.get("triggerExecution", 0.0),
            "d": d,
            "state": [
                {
                    "update_s": s.allUpdatesTimeMs / 1000.0,
                    "commit_s": s.commitTimeMs / 1000.0,
                    "rows_total": s.numRowsTotal,
                    "memory_bytes": s.memoryUsedBytes,
                }
                for s in p.stateOperators
            ],
        })
    return out


def _split(progress: list[dict], warmup: int, timed: int, total_rows: int):
    data = [p for p in progress if p["rows"] > 0]
    if len(data) != warmup + timed:
        raise GateError(f"expected {warmup + timed} data epochs, progress holds {len(data)}")
    if sum(p["rows"] for p in data) != total_rows:
        raise GateError(f"epochs consumed {sum(p['rows'] for p in data)} rows, staged {total_rows}")
    return data[:warmup], data[warmup:]


def _drain(q) -> list[dict]:
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise GateError(f"drain did not finish within {DRAIN_TIMEOUT_S} s")
    if q.exception() is not None:
        raise GateError(f"streaming query failed: {q.exception()}")
    return _progress(q)


def _end_to_end(setup_s: float, timed: list[dict], read_s: float) -> dict[str, float]:
    drain_s = timed[-1]["end"] - timed[0]["start"]
    return {
        "setup_s": setup_s,
        "events_per_s": sum(p["rows"] for p in timed) / drain_s,
        "epoch_p50_s": statistics.median(p["d"]["triggerExecution"] for p in timed),
        "read_s": read_s,
    }


def _noop_read(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------- tracing
SHELL_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")

#: every per-layer metric, in BENCHMARK.json order; a layer a workload
#: does not run reports 0
PER_LAYER = (
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.wal_commit_s", "streaming.shell_s", "streaming.shell_phases_s",
    "streaming.batch_self_s", "streaming.metrics_append_s",
    "operators.apply_s", "operators.apply_self_s", "operators.apply_self_wall_s",
    "operators.apply_calls",
    "lake.wall_s", "lake.merge_s", "lake.merge_calls",
    "lake.merge.probe_s", "lake.merge.write_s", "lake.merge.listing_s",
    "lake.merge.pre_commit_wait_s", "lake.merge.commit_s",
    "lake.dead_letter_append_s", "lake.dead_letter_appends", "lake.dead_letter_useful_ratio",
    "lake.mor_append_s", "lake.mor_compact_s", "lake.mor_compactions",
    "lake.read_cow_s", "lake.read_mor_s",
    "lake.meta_reads", "lake.fs_mutations",
    "state.update_s", "state.commit_s", "state.rows_total", "state.memory_bytes",
    "sources.input_rows", "sources.input_bytes",
    "spark.jobs", "spark.tasks", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.busy_share",
    "trace.residual_s", "trace.epoch_p50_s",
)


def _ancestors(spans: list[tr.Span], s: tr.Span):
    while s.parent is not None:
        s = spans[s.parent]
        yield s


def per_layer(spark, tracer: tr.Tracer, timed: list[dict], cpus: int,
              input_bytes: int, reads: dict[str, float]) -> dict[str, float]:
    """Per-timed-epoch means of every layer metric. Span times are
    summed over dispatch threads (busy time). The blocking path is
    split by wall-clock unions within each trigger:

        streaming.trigger_s = streaming.shell_phases_s
            + streaming.batch_self_s + operators.apply_self_wall_s
            + lake.wall_s + trace.residual_s

    shell phases are the named progress durations outside addBatch;
    batch_self is addBatch not covered by any traced engine call."""
    n = len(timed)
    out = dict.fromkeys(PER_LAYER, 0.0)
    spans = tracer.spans
    compaction_merge = {
        id(s) for s in spans
        if s.name == "lake.merge" and any(a.name == "lake.mor_compact" for a in _ancestors(spans, s))
    }
    dl_results = []
    for p in timed:
        win = (p["start"], p["end"])
        d = p["d"]
        mine = [s for s in spans if s.trace is not None and s.trace[1] == p["batch"]]
        by = lambda name: [s for s in mine if s.name == name]  # noqa: E731
        applies = by("operators.apply")
        lakes = [s for s in mine if s.name.startswith("lake.")]
        apply_wall = tr.union_wall(tr.clip([(s.start, s.end) for s in applies], *win))
        lake_wall = tr.union_wall(tr.clip([(s.start, s.end) for s in lakes], *win))
        batch_self = d.get("addBatch", 0.0) - tr.union_wall(
            tr.clip([(s.start, s.end) for s in applies + lakes], *win))
        shell = sum(d.get(k, 0.0) for k in SHELL_PHASES)
        out["streaming.trigger_s"] += d["triggerExecution"]
        out["streaming.add_batch_s"] += d.get("addBatch", 0.0)
        out["streaming.planning_s"] += d.get("queryPlanning", 0.0)
        out["streaming.wal_commit_s"] += d.get("walCommit", 0.0)
        out["streaming.shell_s"] += d["triggerExecution"] - d.get("addBatch", 0.0)
        out["streaming.batch_self_s"] += batch_self
        out["streaming.shell_phases_s"] += shell
        out["operators.apply_self_wall_s"] += apply_wall - lake_wall
        out["lake.wall_s"] += lake_wall
        out["trace.residual_s"] += d["triggerExecution"] - (
            shell + batch_self + apply_wall)
        out["streaming.metrics_append_s"] += sum(s.end - s.start for s in by("streaming.metrics_append"))
        for s in applies:
            kids = [c for c in lakes if c.trace == s.trace]
            out["operators.apply_s"] += s.end - s.start
            out["operators.apply_self_s"] += tr.self_time(s, kids)
            out["operators.apply_calls"] += 1
        for s in by("lake.merge"):
            if id(s) in compaction_merge:
                continue
            out["lake.merge_s"] += s.end - s.start
            out["lake.merge_calls"] += 1
            timings = s.result.get("timings", {}) if isinstance(s.result, dict) else {}
            for k in ("probe", "write", "listing", "pre_commit_wait", "commit"):
                out[f"lake.merge.{k}_s"] += timings.get(f"{k}_s", 0.0)
        for s in by("lake.dead_letter_append"):
            out["lake.dead_letter_append_s"] += s.end - s.start
            dl_results.append(s.result)
        for s in by("lake.mor_append"):
            out["lake.mor_append_s"] += tr.self_time(
                s, [c for c in mine if c.parent is not None and spans[c.parent] is s])
        for s in by("lake.mor_compact"):
            out["lake.mor_compact_s"] += s.end - s.start
            out["lake.mor_compactions"] += 1
        out["lake.meta_reads"] += tracer.count_between("lake.meta_read", *win)
        out["lake.fs_mutations"] += tracer.count_between("lake.fs_mutation", *win)
        for st in p["state"]:
            out["state.update_s"] += st["update_s"]
            out["state.commit_s"] += st["commit_s"]
        out["sources.input_rows"] += p["rows"]
    out = {k: v / n for k, v in out.items()}
    out["lake.dead_letter_appends"] = len(dl_results) / n
    if dl_results:
        out["lake.dead_letter_useful_ratio"] = sum(1 for r in dl_results if r > 0) / len(dl_results)
    if timed[-1]["state"]:
        out["state.rows_total"] = sum(s["rows_total"] for s in timed[-1]["state"])
        out["state.memory_bytes"] = sum(s["memory_bytes"] for s in timed[-1]["state"])
    out["sources.input_bytes"] = input_bytes / n
    jobs = tr.spark_job_stats(spark, [(p["start"], p["end"]) for p in timed])
    for k in ("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        out[f"spark.{k}"] = jobs[k] / n
    out["spark.busy_share"] = jobs["executor_run_s"] / (
        cpus * sum(p["d"]["triggerExecution"] for p in timed))
    out["lake.read_cow_s"] = reads.get("cow", 0.0)
    out["lake.read_mor_s"] = reads.get("mor", 0.0)
    out["trace.epoch_p50_s"] = statistics.median(p["d"]["triggerExecution"] for p in timed)
    return out


def _file_bytes(d: str, files: list[str]) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for f in files)


# ---------------------------------------------------------- tail_mux
TAIL_TABLES = ("cow0", "cow1", "mor0", "mor1")
TAIL_WARMUP = 1
TAIL_EPOCH_S = 5  # nominal timed epoch on 4 cores: --seconds // this = timed epochs
TAIL_BUCKETS = 8
MOR_COMPACT_EPOCHS = 5  # documented sweet spot (lake/mor.py)
EXCLUDE = "content IS NULL OR NOT contains(content, 'EXCLUDE FILTER')"


def _tail_shape(timed: int) -> stage.CdcShape:
    """One file per trigger, 2k events per table per file."""
    return stage.CdcShape(files=TAIL_WARMUP + timed, events_per_file=2000,
                          n_repos=100, paths_per_repo=50)


def _tail_config():
    from movex_cdc_spark.config.table_config import repo_files_config

    cfg = repo_files_config()
    proto = cfg.tables.pop("repo_files")
    # replay_oracle drops EXCLUDE-marked events on every op; the default
    # conditions cover I/U, so D gets the same condition
    proto.conditions["D"] = EXCLUDE
    for name in TAIL_TABLES:
        c = copy.deepcopy(proto)
        c.name = name
        cfg.tables[name] = c
    return cfg


def _tail_sinks(spark, run_dir: str, stage_dir: str) -> dict:
    from pyspark.sql import functions as F

    from movex_cdc_spark.lake.mor import MergeOnReadTable
    from movex_cdc_spark.lake.table import LakeTable
    from movex_cdc_spark.operators.apply import KEY_COLS, REPO_FILES_SCHEMA

    sinks = {}
    for name in TAIL_TABLES:
        t = LakeTable.create(spark, os.path.join(run_dir, name), REPO_FILES_SCHEMA,
                             KEY_COLS, n_buckets=TAIL_BUCKETS)
        base = spark.read.parquet(os.path.join(stage_dir, f"base-{name}.parquet"))
        t.overwrite(base.drop("last_seq", "deleted").withColumn("content_sha", F.sha2("content", 256)))
        sinks[name] = (
            MergeOnReadTable(t, os.path.join(run_dir, f"{name}-delta"),
                             compact_epochs=MOR_COMPACT_EPOCHS)
            if name.startswith("mor") else t
        )
    return sinks


def _gate_tables(sinks: dict, stage_dir: str) -> int:
    """Each table's state equals datagen.replay_oracle on (repo, path,
    content_sha). Returns the number of failed gates."""
    from movex_cdc_spark.datagen import replay_oracle

    failed = 0
    cols = ["repo", "path", "content_sha"]
    for name, sink in sinks.items():
        base = pd.read_parquet(os.path.join(stage_dir, f"base-{name}.parquet"))
        truth = pd.read_parquet(os.path.join(stage_dir, f"truth-{name}.parquet"))
        want = replay_oracle(base, truth)[cols].reset_index(drop=True)
        got = sink.read().select(*cols).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
        if not got.equals(want):
            failed += 1
    return failed


def _gate_dead_letter(dead_letter, stage_dir: str, stream_of) -> int:
    """Dead-letter rows equal the planted poison (null content on I/U),
    each exactly once."""
    want = []
    for name in TAIL_TABLES:
        truth = pd.read_parquet(os.path.join(stage_dir, f"truth-{name}.parquet"))
        poison = truth[truth["content"].isna() & truth["op"].isin(["I", "U"])]
        want += [(stream_of(name), int(s)) for s in poison["seq"]]
    df = dead_letter.read()
    got = [] if df is None else [(r["stream_id"], int(r["seq"])) for r in df.select("stream_id", "seq").collect()]
    return int(sorted(got) != sorted(want))


def run_tail_mux(ctx) -> Outcome:
    from movex_cdc_spark.streaming.pipeline import MultiplexedCdcPipeline

    n_timed = max(2, ctx.seconds // TAIL_EPOCH_S)
    stage_dir = stage.stage_mux(ctx.stage_root, ctx.seed, _tail_shape(n_timed), list(TAIL_TABLES))
    queue = os.path.join(stage_dir, "queue")
    files = sorted(os.listdir(queue))
    spark, session_s = ctx.start_session()

    # set-up: the table create + bootstrap runs BOOTSTRAP_REPEATS times
    # into fresh dirs; setup_s takes the median, the last copy is used
    boots = []
    for i in range(BOOTSTRAP_REPEATS):
        run_dir = os.path.join(ctx.run_root, f"tail-{i}")
        t0 = time.monotonic()
        sinks = _tail_sinks(spark, run_dir, stage_dir)
        boots.append(time.monotonic() - t0)
        if i < BOOTSTRAP_REPEATS - 1:
            shutil.rmtree(run_dir)
    pipe = MultiplexedCdcPipeline(
        spark, _tail_config(), sinks=sinks, events_dir=queue,
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
        dead_letter_dir=os.path.join(run_dir, "dl"),
        metrics_dir=os.path.join(run_dir, "metrics"),
        max_files_per_trigger=1,
    )
    if ctx.tracer is not None:
        ctx.tracer.install()
    t_query = time.time()
    q = pipe.start(available_now=True)
    progress = _drain(q)
    t_drained = time.time()
    pipe.metrics.flush()
    if ctx.tracer is not None:
        ctx.tracer.uninstall()
    total = sum(len(pd.read_parquet(os.path.join(queue, f), columns=["seq"])) for f in files)
    warm, timed = _split(progress, TAIL_WARMUP, n_timed, total)
    setup_s = session_s + statistics.median(boots) + (timed[0]["start"] - t_query)

    # a consumer reads every table's resolved current state
    reads = {"cow": [], "mor": [], "all": []}
    for _ in range(READ_WARMUP):
        for sink in sinks.values():
            _noop_read(sink.read())
    for _ in range(READ_REPEATS):
        per_kind = {"cow": 0.0, "mor": 0.0}
        for name, sink in sinks.items():
            t0 = time.monotonic()
            _noop_read(sink.read())
            per_kind[name[:3]] += time.monotonic() - t0
        for k, v in per_kind.items():
            reads[k].append(v)
        reads["all"].append(per_kind["cow"] + per_kind["mor"])
    read_med = {k: statistics.median(v) for k, v in reads.items()}

    t0 = time.monotonic()
    failed = _gate_tables(sinks, stage_dir)
    failed += _gate_dead_letter(pipe.dead_letter, stage_dir, lambda n: f"{pipe.stream_id}:{n}")
    gate_s = time.monotonic() - t0
    attempted = len(warm) + len(timed) + len(TAIL_TABLES) + 1
    e2e = _end_to_end(setup_s, timed, read_med["all"])
    layers = {}
    if ctx.tracer is not None:
        layers = per_layer(spark, ctx.tracer, timed, ctx.cpus,
                           _file_bytes(queue, files[TAIL_WARMUP:]), read_med)
    return Outcome(e2e, layers, attempted, failed, info={
        "epochs_s": [p["d"]["triggerExecution"] for p in timed],
        "warmup_epochs_s": [p["d"]["triggerExecution"] for p in warm],
        "bootstrap_s": boots, "session_s": session_s, "drain_wall_s": t_drained - t_query,
        "reads_s": reads["all"], "gate_s": gate_s,
    })


# -------------------------------------------------------- sessionize
SESS_WARMUP = 1
SESS_EPOCH_S = 8  # nominal timed epoch on 4 cores: --seconds // this = timed epochs
IDLE_TIMEOUT_S = 7200
# a read of the output takes ~0.2 s and keeps speeding up over its
# first ~15 reads: a longer warm-up and more samples steady the median
SESS_READ_WARMUP = 10
SESS_READ_REPEATS = 11


def _session_shape(timed: int) -> stage.SessionShape:
    """300 active keys, 10 events each per file; 30 keys retire per file."""
    return stage.SessionShape(files=SESS_WARMUP + timed, keys=300, events_per_key=10, churn=30)


def _session_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


def _gate_sessions(spark, events_dir: str, out_dir: str, shape: stage.SessionShape) -> int:
    """Output = sessionize_sql_closed(input) plus, for users whose idle
    timer fired, their final session (itself computed by
    sessionize_sql_closed over the input plus one far-future event per
    flushed user). Users idle for two or more whole files must have
    been flushed; users active in the last file must not."""
    from pyspark.sql import functions as F

    from movex_cdc_spark.streaming.windows import sessionize_sql_closed

    cols = ["user_id", "session_id", "events_in_session", "first_seq", "last_seq"]
    rows = lambda df: sorted(map(tuple, df.select(*cols).toPandas().itertuples(index=False)))  # noqa: E731
    ev = spark.read.schema(_session_schema()).parquet(events_dir)
    got = rows(spark.read.parquet(out_dir))
    closed = rows(sessionize_sql_closed(ev))
    if len(set(got)) != len(got) or not set(closed) <= set(got):
        return 1
    extra = sorted(set(got) - set(closed))
    flushed = [r[0] for r in extra]
    last_file = lambda u: min(shape.files - 1, u // shape.churn)  # noqa: E731
    n_users = shape.keys + shape.churn * (shape.files - 1)
    must = {u for u in range(n_users) if last_file(u) <= shape.files - 3}
    if len(set(flushed)) != len(flushed) or not must <= set(flushed):
        return 1
    if any(last_file(u) == shape.files - 1 for u in flushed):
        return 1
    if not flushed:
        return 0
    sentinels = spark.createDataFrame([(u,) for u in flushed], "user_id long").select(
        (F.lit(10**12) + F.col("user_id")).alias("event_id"),
        F.lit("2100-01-01 00:00:00").cast("timestamp").alias("ts"),
        "user_id",
        F.lit("end").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    final = sorted(set(rows(sessionize_sql_closed(ev.unionByName(sentinels)))) - set(closed))
    return int(final != extra)


def run_sessionize(ctx) -> Outcome:
    from movex_cdc_spark.streaming.windows import gap_sessionize_stateful

    n_timed = max(2, ctx.seconds // SESS_EPOCH_S)
    shape = _session_shape(n_timed)
    stage_dir = stage.stage_sessions(ctx.stage_root, ctx.seed, shape)
    events = os.path.join(stage_dir, "events")
    files = sorted(os.listdir(events))
    spark, session_s = ctx.start_session()
    run_dir = os.path.join(ctx.run_root, "sess")
    out_dir = os.path.join(run_dir, "out")
    if ctx.tracer is not None:
        ctx.tracer.install()
    t_query = time.time()
    q = gap_sessionize_stateful(
        spark, events, os.path.join(run_dir, "ckpt"), out_dir, _session_schema(),
        max_files_per_trigger=1, idle_timeout_s=IDLE_TIMEOUT_S,
    )
    progress = _drain(q)
    t_drained = time.time()
    if ctx.tracer is not None:
        ctx.tracer.uninstall()
    total = shape.files * shape.keys * shape.events_per_key
    warm, timed = _split(progress, SESS_WARMUP, n_timed, total)
    setup_s = session_s + (timed[0]["start"] - t_query)

    reads = []
    for _ in range(SESS_READ_WARMUP):
        _noop_read(spark.read.parquet(out_dir))
    for _ in range(SESS_READ_REPEATS):
        t0 = time.monotonic()
        _noop_read(spark.read.parquet(out_dir))
        reads.append(time.monotonic() - t0)

    t0 = time.monotonic()
    failed = _gate_sessions(spark, events, out_dir, shape)
    gate_s = time.monotonic() - t0
    attempted = len(warm) + len(timed) + 1
    e2e = _end_to_end(setup_s, timed, statistics.median(reads))
    layers = {}
    if ctx.tracer is not None:
        layers = per_layer(spark, ctx.tracer, timed, ctx.cpus,
                           _file_bytes(events, files[SESS_WARMUP:]), {})
    return Outcome(e2e, layers, attempted, failed, info={
        "epochs_s": [p["d"]["triggerExecution"] for p in timed],
        "warmup_epochs_s": [p["d"]["triggerExecution"] for p in warm],
        "session_s": session_s, "drain_wall_s": t_drained - t_query, "reads_s": reads,
        "gate_s": gate_s,
    })


WORKLOADS = {"tail_mux": run_tail_mux, "sessionize": run_sessionize}
