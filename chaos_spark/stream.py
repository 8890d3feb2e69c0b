"""Streaming-partition superstep — Chaos's slipstore loop on resident
compute tasks: one gang-scheduled Spark stage per run segment.

A superstep that runs the exchange through Spark row machinery — the
kernel emitting ~|distinct dst per block| x p update ROWS (20.3M on the
64M-edge bench graph) that cross Arrow into the JVM, shuffle through
groupBy(dst).sum, and join back into a 2.4M-row state table — pays for
that machinery, NOT the numpy math (~8 ms/block) and NOT the gather
bandwidth: the retired classic CSR kernel measured it as the dominant
per-superstep cost (a drain-only no-op mapInPandas pass over the row
state cost ~85% of the full kernel phase).

This module removes the rows. It is the 1:1 Spark image of how Chaos
actually moves updates ([C15] §4, "slipstore"; [X13] §3.2 update streams):

- Vertex state is a BLOB per streaming partition: the partition's float64
  rank vector, aligned to the build-time sorted id vector (csr.py
  apply-{q}/ids.npy). Between segments and in checkpoints it is one Spark
  row ``(part int, blob binary)`` — raw vector bytes, no per-row Arrow
  columns, no shuffle of messages.
- Update streams are PER-TARGET-PARTITION SLICES of each block's partial
  array, written to shared storage (the same block_dir the static CSR
  blocks live in — Chaos's slipstore; tmpfs/page-cache locally, shared
  storage on a real cluster). The v5 block layout orders each block's
  distinct-dst vector by target bucket, so a block's update stream for
  partition q is ONE contiguous float slice [soff, soff+len) — the only
  bytes that change per superstep. The dst ids themselves are static and
  never retransmitted (they live in the build-time apply plan). The
  global dangling mass is itself a message: each partition publishes its
  dangling sum next to its partials (stats-{q}.npy) and every apply task
  folds the same fixed-order sum.
- The loop runs on RESIDENT tasks (:func:`run_resident`). A run segment
  is ONE barrier-mode stage of S = min(state_partitions or p, free task
  slots) gang-scheduled tasks; task t owns the partitions q ≡ t (mod S)
  and keeps their blobs in memory for the whole segment. Per superstep
  each task, for each owned partition:
    1. apply:  contrib = bincount(apos, weights=concat of incoming
       slices) — build-time positions, zero per-superstep searches;
       rank' = (1-d)/n + d * (contrib + dangling/n)
    2. scatter: m = rank' * iod; partial = add.reduceat(m[pos], starts);
       atomically publish the block's update stream, stats-{q} LAST.
  then waits until every stats-{q} of the recorded partition set exists:
  the update stream itself is the superstep barrier (X-Stream's phase
  barrier between scatter and gather; Chaos's slipstore). Every task
  then folds the same fixed-order global delta (or changed count) from
  those files, so all tasks stop at the same superstep with the same
  arithmetic — no driver round trip, no Spark job per superstep. Spark's
  own ``BarrierTaskContext`` barrier is not used: its wait polls once a
  second, ~1 s per round against ~1 ms for the file barrier.
- Without a checkpointer the whole run is one segment. With one, a
  segment is ``checkpoint_every`` supersteps and the driver saves the
  blob state between segments. Task 0 records each superstep's
  barrier-to-barrier seconds, barrier wait and global statistic in the
  segment's ``hist.npy``; the driver reads it into ``RunResult.history``.

Deployment premise: besides the shared block dir the store already
assumes, barrier mode needs static allocation (no dynamic allocation)
and S <= free task slots (``defaultParallelism // spark.task.cpus``);
``state_partitions`` is clamped to that.

Correctness contract: identical supersteps and results vs the join
path — the apply formula, dangling redistribution, and convergence test
are the same expressions; per-dst partial sums are one reduceat over
the block's fixed edge order; the cross-block apply sum and the
dangling-mass fold run in fixed block order, so results are
deterministic run-to-run at any parallelism and any S.
Allclose vs the join path (float association differs there),
property-tested in tests/test_stream.py.

Retry safety: the segment's (part, blob) output is shuffled into the
next state, so the barrier stage is a ShuffleMapStage, which Spark
retries as a whole. A retried attempt reports ``attemptNumber() == 0``
again, so each task drops a start marker and takes its marker count as
the attempt index: every attempt publishes into its own directory, and
a killed task of an earlier attempt can neither delete the live
attempt's files nor satisfy its barrier. Update-stream content is a pure
function of (blob state, static block). A barrier that waits longer than
``spark.network.timeout`` raises, naming the superstep and the missing
partitions. Stream dirs are namespaced by a per-run id so concurrent
runs sharing a pinned block layout never collide; task 0 deletes each
consumed superstep dir, and the driver deletes the run's dir on exit.

Checkpoint/resume: the blob state is written as-is (part, blob) through
the standard CheckpointManager (parquet + per-partition manifest +
config-sha refusal). Every segment regenerates the update stream of its
starting blobs — update streams (and the dangling mass riding them) are
derived state and are never checkpointed.
"""

from __future__ import annotations

import os
import shutil
import time as _time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .checkpoint import CheckpointManager
from .engine import RunResult, release_state, superstep_conf
from .csr import CsrGraph, _load_apply_plan, _load_disk_block
from .graph import ID

PART, BLOB = "part", "blob"
_STATE_SCHEMA = f"{PART} int, {BLOB} binary"

# Worker-level memo: dangling mass per update dir (each worker folds the
# p tiny stats files once per superstep, not once per owned partition).
_DM_CACHE: dict[str, float] = {}


def _upd_dir(block_dir: str, run_id: str, superstep: int) -> str:
    return os.path.join(block_dir, f"upd-{run_id}-{superstep}")


def _apply_parts(block_dir: str) -> tuple:
    """The non-empty state partitions — exactly the partitions the v6
    build wrote an apply plan for. A driver-side listdir (p entries, zero
    Spark jobs)."""
    out = []
    for name in os.listdir(block_dir):
        if name.startswith("apply-"):
            try:
                out.append(int(name.split("-", 1)[1]))
            except ValueError:
                pass
    return tuple(sorted(out))


def _loop_checkpoint_every(checkpointer, checkpoint_every: int, max_iters: int) -> int:
    """Blob states are single-reference and p-rows small: without a
    durable checkpointer there is nothing for the engine loop's periodic
    parquet reset to protect (no Catalyst-stats compounding — each step
    is one mapInPandas over a LogicalRDD; no resume point to write), so
    disable it rather than pay ~6 parquet round trips per 31-superstep
    bench run. With a checkpointer the cadence is the resume contract —
    kept as declared."""
    return checkpoint_every if checkpointer is not None else max_iters + 1


def _publish_arr(upd_dir: str, name: str, arr: np.ndarray) -> None:
    """Atomically publish one update-stream member. Idempotent under task
    retry/speculation: content is deterministic, and a lost rename race
    leaves the winner's identical bytes."""
    os.makedirs(upd_dir, exist_ok=True)
    tmp = os.path.join(upd_dir, f".{name}.{os.getpid()}.npy")
    with open(tmp, "wb") as f:
        np.save(f, arr)
    try:
        os.replace(tmp, os.path.join(upd_dir, f"{name}.npy"))
    except OSError:
        # On POSIX, replace over an existing file never fails for a lost
        # retry/speculation race (it atomically overwrites the winner's
        # identical bytes), so any OSError here is a genuine I/O failure
        # (ENOSPC, EIO, cross-device tmp). An unpublished member would
        # corrupt the dangling mass / convergence delta downstream —
        # fail the task loudly instead.
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def _scatter_publish(
    upd_dir: str, q: int, blk, rank: np.ndarray, iod: np.ndarray,
    delta: float = float("inf"),
) -> None:
    """Block-local scatter: messages m = rank/W(u), pre-aggregated per dst
    via reduceat over the build-time segment starts, published as this
    block's update stream together with the partition's dangling mass."""
    if blk is not None:
        m = rank * iod
        me = m[blk["pos"]]
        if "w" in blk:  # type-2 block: message = rank(u)/W(u) * w(e)
            me = me * blk["w"]
        _publish_arr(upd_dir, f"partial-{q}", np.add.reduceat(me, blk["starts"]))
    dang = float(rank[iod == 0.0].sum())
    # stats-{q} = [dangling, max-delta], published LAST: its existence is
    # the barrier signal that the partition's whole update stream is out.
    # Dangling is a MESSAGE (peer apply tasks fold it next superstep);
    # delta is the convergence statistic every task folds at the barrier.
    _publish_arr(upd_dir, f"stats-{q}", np.array([dang, delta]))


def _dangling_mass(upd_dir: str, qs) -> float:
    """Fixed-order fold of the per-partition dangling masses riding the
    update stream — every task computes the identical float.

    ``qs`` is the exact set of non-empty state partitions: every one of
    them published a stats file with its update stream (edge-less blocks
    included), so a missing file is a publish or barrier failure —
    np.load's FileNotFoundError is the loud failure we want, never a
    silent zero contribution."""
    dm = _DM_CACHE.get(upd_dir)
    if dm is not None:
        return dm
    total = 0.0
    for q in qs:
        total += float(np.load(os.path.join(upd_dir, f"stats-{q}.npy"))[0])
    if len(_DM_CACHE) > 64:
        _DM_CACHE.clear()
    _DM_CACHE[upd_dir] = total
    return total


def _gather(plan, upd_dir: str, p: int) -> np.ndarray:
    """Apply-side gather: one bincount over the build-time positions of
    every incoming update slice (fixed block order -> deterministic
    float association)."""
    parts = []
    aoff, soff = plan["aoff"], plan["soff"]
    for b in range(p):
        ln = int(aoff[b + 1] - aoff[b])
        if ln <= 0:
            continue
        f = os.path.join(upd_dir, f"partial-{b}.npy")
        arr = np.load(f, mmap_mode="r")
        parts.append(np.asarray(arr[int(soff[b]):int(soff[b]) + ln]))
    n_state = len(plan["iod"])
    if not parts:
        return np.zeros(n_state)
    w = parts[0] if len(parts) == 1 else np.concatenate(parts)
    return np.bincount(plan["apos"], weights=w, minlength=n_state)


def _await_stats(upd_dir: str, qs, superstep: int, timeout: float) -> list:
    """The file barrier: block until every ``stats-{q}`` of ``qs`` is
    published in ``upd_dir``, then return them in ``qs`` order. A peer
    that has not published within ``timeout`` seconds raises instead of
    hanging the stage."""
    missing = list(qs)
    deadline = _time.monotonic() + timeout
    pause = 1e-4
    while missing:
        while missing and os.path.exists(
            os.path.join(upd_dir, f"stats-{missing[0]}.npy")
        ):
            missing.pop(0)
        if not missing:
            break
        if _time.monotonic() > deadline:
            raise RuntimeError(
                f"stream barrier: superstep {superstep} timed out after "
                f"{timeout:g} s; partitions {missing} never published"
            )
        _time.sleep(pause)
        pause = min(pause * 2, 1e-3)
    return [np.load(os.path.join(upd_dir, f"stats-{q}.npy")) for q in qs]


def _fold(stats: list, stat: str) -> float:
    """Global convergence statistic from the barrier's stats, in fixed
    partition order: max |Δ| for ``"delta"``, total for ``"changed"``."""
    vals = [float(s[1]) for s in stats]
    return max(vals, default=0.0) if stat == "delta" else float(sum(vals))


def _segment(kern, token, block_dir, p, qs, S, root, s0, s1, stat,
             converged, timeout):
    """Task side of one segment: supersteps s0+1 .. s1 (fewer on
    convergence) over the partitions this task owns. Input rows are
    ``(part, blob)``; a NULL blob starts from ``kern.init_blob``."""

    def run(batches):
        from pyspark import BarrierTaskContext

        ctx = BarrierTaskContext.get()
        t = ctx.partitionId()
        seg = os.path.join(root, f"s{s0}")
        os.makedirs(seg, exist_ok=True)
        # Attempt index = this task's start-marker count: a retried stage
        # attempt reports attemptNumber() 0 again, but every task of
        # attempt a has written exactly a+1 markers.
        open(os.path.join(seg, f"start-{t}-{ctx.taskAttemptId()}"), "w").close()
        a = sum(n.startswith(f"start-{t}-") for n in os.listdir(seg)) - 1
        att = os.path.join(seg, f"a{a}")

        def ud(s):
            return os.path.join(att, str(s))

        items = [
            kv for pdf in batches
            for kv in zip(pdf[PART].tolist(), pdf[BLOB].tolist())
        ]
        blob_ok = getattr(kern, "blob_ok", lambda n, ln: n == ln)
        plans, blks, state = {}, {}, {}
        for q, blob in sorted(items, key=lambda kv: kv[0]):
            plan = _load_apply_plan(token, q, block_dir)
            if plan is None or blob is not None and not blob_ok(
                len(plan["ids"]), len(blob) // np.dtype(kern.dtype).itemsize
            ):
                raise RuntimeError(
                    f"{kern.name} apply: blob/plan mismatch at partition {q}"
                )
            plans[q], state[q] = plan, (
                kern.init_blob(np.asarray(plan["ids"])) if blob is None
                else np.frombuffer(blob, dtype=kern.dtype)
            )
            blks[q] = _load_disk_block(token, q, block_dir)
        if list(state) != [q for q in qs if q % S == t]:
            raise RuntimeError(
                f"{kern.name}: task {t} got state partitions {list(state)}"
            )
        hist = []
        if s1 > s0:
            for q, x in state.items():
                kern.scatter(ud(s0), q, blks[q], x, float("inf"))
            _await_stats(ud(s0), qs, s0, timeout)
            tb = _time.perf_counter()
            s = s0
            while s < s1:
                s += 1
                for q in state:
                    new, st = kern.gather_apply(plans[q], ud(s - 1), p, q, state[q])
                    kern.scatter(ud(s), q, blks[q], new, float(st))
                    state[q] = new
                tw = _time.perf_counter()
                value = _fold(_await_stats(ud(s), qs, s, timeout), stat)
                now = _time.perf_counter()
                if t == 0:
                    # Every task has published step s, so step s-1's
                    # update stream is fully consumed.
                    shutil.rmtree(ud(s - 1), ignore_errors=True)
                    hist.append((s, now - tb, now - tw, value))
                tb = now
                if converged(value):
                    break
        if t == 0:
            _publish_arr(att, "hist", np.array(hist, dtype=np.float64).reshape(-1, 4))
        yield pd.DataFrame({
            PART: list(state), BLOB: [x.tobytes() for x in state.values()],
        })

    return run


def _segment_history(root: str, s0: int) -> np.ndarray:
    """Task 0's per-superstep records of segment ``s0``, from its latest
    attempt (the one whose output the job kept)."""
    seg = os.path.join(root, f"s{s0}")
    done = [
        int(n[1:]) for n in os.listdir(seg)
        if n.startswith("a") and os.path.exists(os.path.join(seg, n, "hist.npy"))
    ]
    return np.load(os.path.join(seg, f"a{max(done)}", "hist.npy"))


def _spark_hash_int(v: int) -> int:
    """Spark's ``hash()`` of an int value (Murmur3_x86_32.hashInt, seed
    42), as a signed 32-bit int."""
    m = 0xFFFFFFFF

    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & m

    k = rotl((v & m) * 0xCC9E2D51 & m, 15) * 0x1B873593 & m
    h = ((rotl(42 ^ k, 13) * 5 + 0xE6546B64) & m) ^ 4
    h = (h ^ (h >> 16)) * 0x85EBCA6B & m
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >= 1 << 31 else h


def _route(df: DataFrame, S: int) -> DataFrame:
    """Hash-repartition ``(part, blob)`` rows so that task t receives
    exactly the partitions q ≡ t (mod S): each row is keyed by the
    smallest int whose Spark hash partition is q % S."""
    keys: dict[int, int] = {}
    k = 0
    while len(keys) < S:
        keys.setdefault(_spark_hash_int(k) % S, k)
        k += 1
    key = F.element_at(
        F.array(*[F.lit(keys[t]) for t in range(S)]),
        F.pmod(F.col(PART), F.lit(S)) + 1,
    )
    return df.select(PART, BLOB).repartition(S, key)


def run_resident(
    spark: SparkSession,
    g: CsrGraph,
    kern,
    max_iters: int,
    stat: str,
    converged,
    init: DataFrame | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    state_partitions: int | None = None,
) -> RunResult:
    """Drive a blob kernel over resident barrier-stage tasks (module
    docstring) and expand the final blobs to ``kern.out_schema`` rows.

    ``kern`` supplies ``dtype``, ``name``, ``out_schema``,
    ``init_blob(ids)``, ``scatter(upd_dir, q, blk, state, stat)``,
    ``gather_apply(plan, upd_dir, p, q, prev) -> (state, stat)``,
    ``expand_pdf(plan, blob)`` and optionally ``blob_ok(n, len)``.
    ``stat`` names the per-partition statistic (``"delta"`` folds by max,
    ``"changed"`` by sum); ``converged(value)`` stops the run. ``init``:
    a ``(part, blob)`` starting frame (default: ``kern.init_blob`` per
    partition). A checkpoint resume, when present, takes precedence.
    """
    sc = spark.sparkContext
    p, token, block_dir = g.p, g.cache_token, g.block_dir
    qs = _apply_parts(block_dir)
    slots = sc.defaultParallelism // int(sc.getConf().get("spark.task.cpus", "1"))
    S = max(1, min(state_partitions or p, slots, len(qs)))
    timeout = float(
        sc._jsc.sc().conf().getTimeAsSeconds("spark.network.timeout", "120s")
    )
    root = os.path.join(block_dir, f"upd-{uuid.uuid4().hex[:8]}")
    start = 0
    if checkpointer is not None:
        manifest = checkpointer.latest()
        if manifest is not None:
            start = int(manifest["superstep"])
            init = checkpointer.load(spark, manifest)
    history: list[dict] = []
    t, done = start, False

    def absorb(s0: int) -> int:
        """Append segment s0's history; return its last superstep."""
        nonlocal done
        last = s0
        for s, sec, wait, value in _segment_history(root, s0):
            last = int(s)
            done = bool(converged(value))
            history.append({
                "superstep": last, "seconds": round(float(sec), 4),
                "wait_s": round(float(wait), 4),
                stat: float(value) if stat == "delta" else int(value),
                "converged": done,
            })
        return last

    # AQE off: every frame here is a handful of blob rows, and the init
    # frame's task index must stay its partition id.
    with superstep_conf(spark, p, adaptive=False):
        if init is None:
            init = spark.createDataFrame(
                pd.DataFrame({PART: np.array(qs, dtype=np.int32), BLOB: None}),
                _STATE_SCHEMA,
            )
        inp = _route(init, S)
        kept = None
        try:
            while True:
                s1 = max(t, max_iters if checkpointer is None else min(
                    max_iters, (t // checkpoint_every + 1) * checkpoint_every
                ))
                out = _route(inp.mapInPandas(_segment(
                    kern, token, block_dir, p, qs, S, root, t, s1, stat,
                    converged, timeout,
                ), schema=_STATE_SCHEMA, barrier=True), S)
                if checkpointer is None:
                    break
                # Runs the segment; its routed output is the next input.
                out = out.localCheckpoint(eager=True)
                if kept is not None:
                    release_state(kept)
                kept = out
                s0, t = t, absorb(t)
                if t > s0 and (done or t % checkpoint_every == 0):
                    checkpointer.save(out, t, metrics=history[-1])
                if done or t >= max_iters:
                    break
                inp = out

            def expand(batches):
                for pdf in batches:
                    for q, blob in zip(pdf[PART].tolist(), pdf[BLOB].tolist()):
                        plan = _load_apply_plan(token, int(q), block_dir)
                        yield kern.expand_pdf(plan, blob)

            # Eager localCheckpoint: the expanded rows must never be
            # recomputed — they read apply plans that may live in an
            # EPHEMERAL block dir the caller reclaims.
            state = out.mapInPandas(
                expand, schema=kern.out_schema
            ).localCheckpoint(eager=True)
            if checkpointer is None:
                t = absorb(t)
        finally:
            if kept is not None:
                release_state(kept)
            shutil.rmtree(root, ignore_errors=True)
    return RunResult(state=state, supersteps=t, converged=done, history=history)


class _PageRankKernel:
    """Scatter-sum PageRank blob kernel (module docstring). ``src_arr``:
    personalized PageRank's sorted source ids, or None."""

    dtype = np.float64
    out_schema = f"{ID} long, rank double"
    name = "stream"

    def __init__(self, token, block_dir, n, damping, src_arr, qs):
        self.token, self.block_dir, self.qs = token, block_dir, qs
        self.n, self.damping, self.src_arr = n, damping, src_arr

    def _pref(self, ids: np.ndarray) -> np.ndarray | float:
        """Per-partition preference vector (uniform 1/n when no sources)."""
        if self.src_arr is None:
            return 1.0 / self.n
        return np.isin(ids, self.src_arr).astype(np.float64) / len(self.src_arr)

    def init_blob(self, ids: np.ndarray) -> np.ndarray:
        if self.src_arr is not None:
            return np.asarray(self._pref(ids))  # PPR: rank0 = pref
        return np.full(len(ids), 1.0 / self.n)

    def scatter(self, upd_dir, q, blk, rank, delta) -> None:
        plan = _load_apply_plan(self.token, q, self.block_dir)
        _scatter_publish(upd_dir, q, blk, rank, np.asarray(plan["iod"]), delta)

    def gather_apply(self, plan, upd_dir, p, q, prev):
        d, n = self.damping, self.n
        dm = _dangling_mass(upd_dir, self.qs)
        contrib = _gather(plan, upd_dir, p)
        if self.src_arr is None:
            rank = (1.0 - d) / n + d * (contrib + dm / n)
        else:
            pref = self._pref(np.asarray(plan["ids"]))
            rank = (1.0 - d) * pref + d * (contrib + dm * pref)
        delta = float(np.max(np.abs(rank - prev))) if len(rank) else 0.0
        return rank, delta

    def expand_pdf(self, plan, blob: bytes) -> pd.DataFrame:
        return pd.DataFrame({
            ID: np.asarray(plan["ids"]),
            "rank": np.frombuffer(blob, np.float64),
        })


def pagerank_stream(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iters: int = 100,
    num_partitions: int | None = None,
    token: str | None = None,
    weight_col: str | None = None,
    checkpointer: CheckpointManager | None = None,
    checkpoint_every: int = 5,
    graph: CsrGraph | None = None,
    state_partitions: int | None = None,
    init_ranks: DataFrame | None = None,
    sources: list[int] | None = None,
    num_edges: int | None = None,
) -> RunResult:
    """PageRank over the resident streaming-partition superstep.

    ``sources``: personalized PageRank — teleport and dangling
    redistribution follow ``pref(v) = 1/|S|`` on the source set (0
    elsewhere) and ``rank0 = pref``, the exact recurrence of
    algos.pagerank(sources=...) and its unrolled oracle. The preference
    vector is derived in-kernel from the partition's id vector
    (np.isin against the closure-shipped sorted source array), so blobs,
    update streams, and checkpoints are unchanged.

    Same semantics as algos.pagerank: damping with
    dangling-mass redistribution, convergence when max |Δrank| < tol,
    superstep count identical to the join path. ``graph`` lets
    callers (bench warmup → timed run) reuse a built CsrGraph.

    ``state_partitions``: resident task count S, clamped to the free
    task slots (``defaultParallelism // spark.task.cpus``); default p.
    Task t owns the partitions q ≡ t (mod S). Every kernel routes by the
    partition id, never by task index, so S never changes results.

    ``init_ranks``: warm-start from a prior ``(id, rank)`` frame — same
    contract as algos.pagerank (prior taken verbatim, absent vertices
    start at 1/n, mass self-corrects; exact continuation on an unchanged
    graph). This is the scale path's incremental re-rank handoff after
    the streaming ingest lane grows the graph. A checkpoint resume, when
    present, takes precedence over ``init_ranks``.

    ``weight_col``: weighted PageRank over type-2 blocks; a NULL or
    non-positive weight raises ValueError, as in algos.pagerank.
    """
    if weight_col is not None:
        from .algos.pagerank import _validate_weights

        _validate_weights(edges, weight_col)
    g = graph or CsrGraph(
        spark, edges, num_partitions=num_partitions, token=token,
        weight_col=weight_col, num_edges=num_edges,
    )
    n = g.num_vertices
    token_, block_dir = g.cache_token, g.block_dir
    if sources is not None and not sources:
        raise ValueError("sources must be a non-empty id list")
    src_arr = (
        None if sources is None
        else np.unique(np.asarray(sorted(int(s) for s in sources), np.int64))
    )
    kern = _PageRankKernel(
        token_, block_dir, n, float(damping), src_arr, _apply_parts(block_dir)
    )

    def init_kernel(batches):
        # Warm init (init_ranks): prior ranks ride the seed rows, aligned
        # to the apply plan's sorted id vector (strict-checked — the one
        # chance to verify the row layout before ids stop crossing the
        # boundary). A partition may arrive as several Arrow batches —
        # concat before blob-ifying.
        from pyspark import TaskContext

        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs) if len(pdfs) > 1 else pdfs[0]
        q = TaskContext.get().partitionId()
        plan = _load_apply_plan(token_, q, block_dir)
        if plan is None:
            raise RuntimeError(f"stream init: no apply plan for partition {q}")
        pdf = pdf.sort_values(ID)
        ids = pdf[ID].to_numpy(dtype=np.int64)
        if not np.array_equal(plan["ids"], ids):
            raise RuntimeError(
                "stream init: state partition ids do not match the "
                f"apply plan for partition {q} — partitioner mismatch"
            )
        # Prior ranks ride the seed rows (left join on id); NaN = vertex
        # absent from the prior -> 1/n (the join path's seed_ranks fill,
        # sources or not).
        rank = pdf["_prank"].to_numpy(dtype=np.float64).copy()
        rank[np.isnan(rank)] = 1.0 / n
        yield pd.DataFrame({PART: [q], BLOB: [rank.tobytes()]})

    init = None
    if init_ranks is not None:
        pri = init_ranks.select(
            F.col(ID), F.col("rank").cast("double").alias("_prank")
        )
        init = g.align_state(g.verts.join(pri, ID, "left")).mapInPandas(
            init_kernel, schema=_STATE_SCHEMA
        )
    return run_resident(
        spark, g, kern, max_iters, "delta", lambda v: v < tol, init=init,
        checkpointer=checkpointer, checkpoint_every=checkpoint_every,
        state_partitions=state_partitions,
    )
