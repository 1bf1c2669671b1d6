"""Staged-input cache for the benchmark workloads.

Every workload's input is generated from ``movex_cdc_spark.datagen``
(or, for the sessionizer, a seeded numpy schedule) exactly once per
(workload, seed, shape) and kept under the work directory. A stage is
built in a ``.tmp`` sibling and published with one ``os.rename``, so a
run killed mid-build never leaves a half-written stage behind. All of
this runs before the Spark session exists: it is outside every timed
region and outside ``setup_s``.

Only numpy / pandas / pyarrow are used here. The JSON payload is
built with ``json.dumps`` and omits null fields, which is what Spark's
``to_json`` (``sources.events.to_payload_events``) writes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# file mtimes start here and step 10 s per file: the streaming file
# source admits the OLDEST mtime first, so strictly increasing mtimes
# pin the trigger order to the staged order
MTIME_BASE = 1_700_000_000
MTIME_STEP = 10

PAYLOAD_FIELDS = ("repo", "path", "commit", "lang", "content", "old_content")


@dataclass(frozen=True)
class CdcShape:
    """One CDC event stream: ``files`` files of ``events_per_file``
    events over ``n_repos * paths_per_repo`` keys."""

    files: int
    events_per_file: int
    n_repos: int
    paths_per_repo: int


@dataclass(frozen=True)
class SessionShape:
    """Time-ordered sessionizer input: ``files`` files, each holding
    ``events_per_key`` events for each of ``keys`` active users; every
    file ``churn`` users retire for good and as many new ones start."""

    files: int
    keys: int
    events_per_key: int
    churn: int


def _key(workload: str, seed: int, shape) -> str:
    h = hashlib.sha256(json.dumps(asdict(shape), sort_keys=True).encode()).hexdigest()
    return f"{workload}-s{seed}-{h[:12]}"


def _publish(final: str, build) -> str:
    """Build a stage into ``final + '.tmp'`` and rename it into place."""
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def _write(df: pd.DataFrame, path: str, mtime: int) -> None:
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(tbl, path, coerce_timestamps="us", allow_truncated_timestamps=True)
    os.utime(path, (mtime, mtime))


def _payload_frame(ev: pd.DataFrame) -> pd.DataFrame:
    """Columnar datagen events -> the Event_Logs payload shape."""
    cols = {f: ev[f].tolist() for f in PAYLOAD_FIELDS}
    payload = [
        json.dumps({f: cols[f][i] for f in PAYLOAD_FIELDS if cols[f][i] is not None})
        for i in range(len(ev))
    ]
    msg_key = [
        json.dumps({"repo": r, "path": p}) for r, p in zip(cols["repo"], cols["path"])
    ]
    return pd.DataFrame(
        {
            "seq": ev["seq"].astype("int64").to_numpy(),
            "op": ev["op"].to_numpy(),
            "msg_key": msg_key,
            "payload": payload,
            "ts": ev["ts"].to_numpy(),
            "txid": ev["txid"].astype("int64").to_numpy(),
        }
    )


def _gen_params(shape: CdcShape, seed: int):
    from movex_cdc_spark.datagen import GenParams

    return GenParams(
        n_events=shape.files * shape.events_per_file,
        n_repos=shape.n_repos,
        paths_per_repo=shape.paths_per_repo,
        seed=seed,
    )


def _cdc_stream(shape: CdcShape, seed: int):
    """Yield one columnar event frame per file; seq ranges tile the
    stream, so per-key order spans file boundaries."""
    from movex_cdc_spark.datagen import generate_event_chunks

    yield from generate_event_chunks(
        _gen_params(shape, seed), chunk_size=shape.events_per_file
    )


def _oracle_inputs(ev: pd.DataFrame) -> pd.DataFrame:
    """The columns replay_oracle and the dead-letter gate need."""
    return ev[["seq", "repo", "path", "commit", "lang", "content", "old_content", "op"]]


def stage_mux(root: str, seed: int, shape: CdcShape, tables: list[str]) -> str:
    """One tagged queue: file i interleaves file i of every table's own
    datagen stream (seed * 100 + table index), ordered by (seq, table)."""
    from movex_cdc_spark.datagen import generate_base_snapshot

    def build(tmp: str) -> None:
        os.makedirs(os.path.join(tmp, "queue"))
        streams = [_cdc_stream(shape, seed * 100 + t) for t in range(len(tables))]
        truth = {name: [] for name in tables}
        for i in range(shape.files):
            parts = []
            for name, stream in zip(tables, streams):
                ev = next(stream)
                truth[name].append(_oracle_inputs(ev))
                parts.append(_payload_frame(ev).assign(table_name=name))
            q = pd.concat(parts, ignore_index=True).sort_values(
                ["seq", "table_name"], kind="stable"
            )
            _write(
                q,
                os.path.join(tmp, "queue", f"q-{i:05d}.parquet"),
                MTIME_BASE + i * MTIME_STEP,
            )
        for t, name in enumerate(tables):
            pd.concat(truth[name], ignore_index=True).to_parquet(
                os.path.join(tmp, f"truth-{name}.parquet"), index=False
            )
            generate_base_snapshot(_gen_params(shape, seed * 100 + t)).to_parquet(
                os.path.join(tmp, f"base-{name}.parquet"), index=False
            )

    return _publish(os.path.join(root, _key("tail_mux", seed, shape)), build)


SESSION_T0 = pd.Timestamp("2024-01-01")
EVENT_STEP_S = 1200  # 20 min between a user's events
GAP_EVERY = 5  # every 5th event opens a 2 h gap (> the 1 h session gap)
GAP_S = 7200


def stage_sessions(root: str, seed: int, shape: SessionShape) -> str:
    """Users [i*churn, i*churn + keys) are active in file i. Each
    holds ``events_per_key`` events at band(i) + offset(user) +
    l*20min + (l//5)*2h for l < events_per_key, with a per-user offset
    below 20 min. A band is wider than a user's events plus the 1 h
    session gap, so every event of file i+1 is later than every event
    of file i, and each user closes a session every 5 events."""
    m = shape.events_per_key
    band_s = m * EVENT_STEP_S + (m // GAP_EVERY + 1) * GAP_S

    def build(tmp: str) -> None:
        rng = np.random.default_rng(seed)
        offset_s = rng.integers(0, EVENT_STEP_S, shape.keys + shape.churn * shape.files)
        local = np.tile(np.arange(m), shape.keys)
        step_s = local * EVENT_STEP_S + (local // GAP_EVERY) * GAP_S
        next_id = 0
        os.makedirs(os.path.join(tmp, "events"))
        for i in range(shape.files):
            u = np.repeat(np.arange(i * shape.churn, i * shape.churn + shape.keys), m)
            n = len(u)
            df = pd.DataFrame(
                {
                    "event_id": np.arange(next_id, next_id + n, dtype=np.int64),
                    "ts": SESSION_T0
                    + pd.to_timedelta(i * band_s + offset_s[u] + step_s, unit="s"),
                    "user_id": u.astype(np.int64),
                    "event_type": "tick",
                    "value": rng.random(n),
                    "props": "{}",
                }
            )
            next_id += n
            # arrival order inside a file is shuffled: the hook sorts
            _write(
                df.iloc[rng.permutation(n)],
                os.path.join(tmp, "events", f"s-{i:05d}.parquet"),
                MTIME_BASE + i * MTIME_STEP,
            )

    return _publish(os.path.join(root, _key("sessionize", seed, shape)), build)
