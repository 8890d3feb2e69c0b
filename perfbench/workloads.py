"""The benchmark workloads and the run that measures them.

Every op runs through the entry point a user calls: ``extract.
corpus_to_graph``, ``algos.*`` in ``mode="auto"`` without a caller-supplied
``num_edges`` (so the router's own ``|E|`` count is timed), and
``stream.pagerank_stream`` with a ``CheckpointManager`` (auto mode would
send a checkpointed PageRank to the join path). Spark runs ``local[nproc]``
in this one driver process.

A run: inputs and references (untimed) -> ``CYCLES`` set-up cycles, each a
fresh Spark session in the same JVM on an emptied block dir plus the input
load -> one timed pass after each of the last ``passes`` cycles -> result
checks and premise guards. A traced run adds one more cycle with Spark's
event log on, in which every layer's public function is called on its own.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import numpy as np
import pandas as pd

import refs
import tracing

OPS = ("extract", "pagerank", "cc", "lpa", "triangles", "pagerank_ckpt")
ITERATIVE = ("pagerank", "cc", "lpa")

# corpus_cold must stay above csr.CC_STREAM_MIN_EDGES (and so above
# STREAM_AUTO_MIN_EDGES) for PageRank, CC and LPA to build stream blocks
# cold: 150k files give ~229k import edges. At 500 files per repo no repo
# reaches the pkg99/ stems the generator uses for unresolvable imports, so
# those stay unresolvable. small_join must stay below STREAM_AUTO_MIN_EDGES
# so every op takes a join path; at average out-degree 8 its PageRank takes
# 7 supersteps on 194 of 200 seeds (6 to 8 on the rest), where a sparser
# graph's count varies with the seed (10k vertices: 10 to 33).
CORPUS_COLD = {"files": 150_000, "files_per_repo": 500}
SMALL_JOIN = {"vertices": 5_000, "edges": 40_000}
PR_TOL = 1e-6
PR_MAX_ITERS = 100
LPA_ITERS = 10

# Set-up cycles per run (setup_s is their median), and the nominal length
# of one timed pass on a 4 vCPU host: a run makes max(1, round(seconds /
# nominal)) passes, so the pass count depends on --seconds only, never on
# how fast the host happened to be.
CYCLES = 7
NOMINAL_PASS_S = {"corpus_cold": 40.0, "small_join": 27.0}


class GuardError(RuntimeError):
    """A workload premise does not hold: the run is invalid."""


def er_edges(n: int, m: int, seed: int) -> pd.DataFrame:
    """Seeded Erdos-Renyi edge list: m uniform (src, dst) pairs over n ids."""
    e = np.random.default_rng(seed).integers(0, n, size=(m, 2))
    return pd.DataFrame({"src": e[:, 0], "dst": e[:, 1]})


def _markers(block_dir: str) -> list[str]:
    return [r for r, _, files in os.walk(block_dir) if "_BUILT" in files]


def _block_files(block_dir: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every built block file; per-run update streams
    (``upd-*``) are excluded because every superstep rewrites them."""
    out = {}
    for r, dirs, files in os.walk(block_dir):
        dirs[:] = [d for d in dirs if not d.startswith("upd-")]
        for fn in files:
            st = os.stat(os.path.join(r, fn))
            out[os.path.relpath(os.path.join(r, fn), block_dir)] = (st.st_size, st.st_mtime_ns)
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _wipe(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


class Pass:
    """One timed or traced pass: op walls, results, superstep counts and
    failures."""

    def __init__(self):
        self.wall: dict[str, float] = {}
        self.out: dict[str, object] = {}
        self.steps: dict[str, int] = {}
        self.failed: list[str] = []
        self.attempted: list[str] = []
        self.total = 0.0


class Bench:
    def __init__(self, workload: str, seed: int, dirs: dict[str, str], nproc: int):
        self.workload = workload
        self.seed = seed
        self.dirs = dirs
        self.nproc = nproc
        self.spark = None
        self.edges = None  # small_join: the loaded, cached input
        self.setup_times: list[float] = []
        self.session_times: list[float] = []
        self.passes: list[Pass] = []
        self.reference: Pass | None = None  # trace mode: warm untraced pass
        self.traced: Pass | None = None
        self.spans = tracing.Spans()
        self.layer: dict[str, float] = {}
        self.n_edges = 0  # deduplicated directed |E|
        self.ref: dict[str, object] = {}
        self.truth_pairs: set = set()
        self.n_files = 0

    # -- sessions ---------------------------------------------------------
    def start_session(self, event_log: bool = False) -> float:
        """Stop any active session (untimed: PySpark's accumulator server
        takes 0 to 0.5 s to notice a shutdown) and start a fresh one; the
        JVM is launched by the first call and reused after. Returns the
        start's wall time."""
        from pyspark.sql import SparkSession

        from chaos_spark.session import get_spark

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.driver.memory": "3g",
                "spark.driver.extraJavaOptions": (
                    "-XX:+ExplicitGCInvokesConcurrent -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={self.dirs['tmp']}"
                ),
                "spark.local.dir": self.dirs["spark-local"],
                "spark.sql.warehouse.dir": os.path.join(self.dirs["tmp"], "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.eventLog.enabled": "true" if event_log else "false",
                "spark.eventLog.dir": self.dirs["events"],
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=120)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    # -- inputs and references (untimed, once per run) --------------------
    def prepare(self) -> None:
        if self.workload == "corpus_cold":
            src, dst = self._prepare_corpus()
        else:
            e = er_edges(SMALL_JOIN["vertices"], SMALL_JOIN["edges"], self.seed)
            e.to_parquet(os.path.join(self.dirs["data"], "edges.parquet"))
            src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
        self.ref["pagerank"] = refs.pagerank(src, dst, tol=PR_TOL, max_iters=PR_MAX_ITERS)
        self.ref["cc"] = refs.connected_components(src, dst)
        self.ref["lpa"] = refs.label_propagation(src, dst, max_iters=LPA_ITERS)
        self.ref["triangles"] = refs.triangle_count(src, dst)
        self.n_edges = len(set(zip(src.tolist(), dst.tolist())))

    def _prepare_corpus(self):
        """Generated source corpus, and its true import edges in the
        engine's vertex-id space: xxhash64(repo, path), computed by Spark's
        own SQL function so the references use the ids the engine mints."""
        from pyspark.sql import functions as F

        from chaos_spark.fixtures import gen_source_files

        corpus = gen_source_files(
            n_rows=CORPUS_COLD["files"], seed=self.seed,
            n_repos=CORPUS_COLD["files"] // CORPUS_COLD["files_per_repo"],
        )
        path = os.path.join(self.dirs["data"], "corpus.parquet")
        corpus.files.to_parquet(path)
        self.n_files = len(corpus.files)
        self.group("prepare")
        ids = (
            self.spark.read.parquet(path)
            .select("repo", "path", F.xxhash64("repo", "path").alias("id"))
            .toPandas()
        )
        t = corpus.truth_edges
        s = t.merge(ids, left_on=["repo", "src_path"], right_on=["repo", "path"])
        s = s.merge(ids, left_on=["repo", "dst_path"], right_on=["repo", "path"],
                    suffixes=("_src", "_dst"))
        if len(s) != len(t):
            raise GuardError("corpus_cold: a true edge endpoint has no file")
        src, dst = s["id_src"].to_numpy(), s["id_dst"].to_numpy()
        self.truth_pairs = set(zip(src.tolist(), dst.tolist()))
        return src, dst

    # -- set-up cycle -----------------------------------------------------
    def setup_cycle(self, event_log: bool = False) -> float:
        """Fresh session on an empty block dir, plus the input load;
        returns its wall time."""
        _wipe(self.dirs["blocks"])
        start = self.start_session(event_log)
        self.session_times.append(start)
        t0 = time.perf_counter()
        self.group("setup")
        data = self.dirs["data"]
        if self.workload == "corpus_cold":
            self.spark.read.parquet(os.path.join(data, "corpus.parquet")).count()
        else:
            self.edges = self.spark.read.parquet(os.path.join(data, "edges.parquet")).persist()
            self.edges.count()
        return start + time.perf_counter() - t0

    # -- timed pass -------------------------------------------------------
    def _op(self, p: Pass, name: str, fn) -> None:
        self.group(name)
        p.attempted.append(name)
        t0 = time.perf_counter()
        try:
            p.out[name] = fn()
        except Exception:  # an op that raises counts as failed; the run goes on
            traceback.print_exc()
            p.failed.append(name)
        p.wall[name] = time.perf_counter() - t0

    def _extract(self, path: str):
        """Corpus Parquet -> extract -> written edge table; returns the
        unresolved-reference frame (lazy)."""
        from chaos_spark.extract import corpus_to_graph

        corpus = self.spark.read.parquet(os.path.join(self.dirs["data"], "corpus.parquet"))
        _, edges, unresolved = corpus_to_graph(corpus)
        edges.write.parquet(path)
        corpus.unpersist()
        return unresolved

    def _checkpointer(self, name: str):
        from chaos_spark.checkpoint import CheckpointManager

        ck = os.path.join(self.dirs["ckpt"], name)
        os.makedirs(ck, exist_ok=True)
        if os.listdir(ck):
            raise GuardError("corpus_cold: checkpoint dir not empty before the stopped call")
        return ck, CheckpointManager(ck, "pagerank", {"tol": PR_TOL})

    def timed_pass(self) -> Pass:
        from chaos_spark import algos
        from chaos_spark.stream import pagerank_stream

        spark, p, wl = self.spark, Pass(), self.workload
        n = len(self.passes) + (self.reference is not None)
        bd = self.dirs["blocks"]
        edges = self.edges
        t_all = time.perf_counter()
        if wl == "corpus_cold":
            if _markers(bd):
                raise GuardError("corpus_cold: block markers exist before the cold pass")
            path = os.path.join(self.dirs["data"], f"edges-{n}.parquet")
            self._op(p, "extract", lambda: self._extract(path))
            edges = spark.read.parquet(path)

        def run(fn):
            r = fn()
            return r, r.state.toPandas()

        self._op(p, "pagerank", lambda: run(lambda: algos.pagerank(
            spark, edges, tol=PR_TOL, max_iters=PR_MAX_ITERS)))
        self._op(p, "cc", lambda: run(lambda: algos.connected_components(spark, edges)))
        self._op(p, "lpa", lambda: run(lambda: algos.label_propagation(
            spark, edges, max_iters=LPA_ITERS)))
        self._op(p, "triangles", lambda: algos.triangle_count(spark, edges))
        if wl == "corpus_cold":
            before = _block_files(bd)
            _, mgr = self._checkpointer(f"pass-{n}")
            half = self.ref["pagerank"][2] // 2

            def ckpt():
                pagerank_stream(spark, edges, tol=PR_TOL, max_iters=half,
                                checkpointer=mgr, checkpoint_every=half)
                return run(lambda: pagerank_stream(
                    spark, edges, tol=PR_TOL, max_iters=PR_MAX_ITERS,
                    checkpointer=mgr, checkpoint_every=half))

            self._op(p, "pagerank_ckpt", ckpt)
            if _block_files(bd) != before:
                raise GuardError("corpus_cold: the checkpointed run rebuilt or modified the blocks")
        p.total = time.perf_counter() - t_all
        self._guard_after(edges)
        self._check(p, edges if wl == "corpus_cold" else None)
        return p

    def _guard_after(self, edges) -> None:
        from chaos_spark.csr import CC_STREAM_MIN_EDGES, STREAM_AUTO_MIN_EDGES

        self.group("untimed")
        bd = self.dirs["blocks"]
        raw = edges.count()
        if self.workload == "corpus_cold":
            if raw < max(CC_STREAM_MIN_EDGES, STREAM_AUTO_MIN_EDGES):
                raise GuardError(f"corpus_cold: {raw} edges is below a stream crossover")
            # PageRank builds directed blocks, CC undirected ones, LPA and
            # the checkpointed PageRank adopt them: exactly two builds.
            if len(_markers(bd)) != 2:
                raise GuardError(
                    f"corpus_cold: expected 2 cold block builds, found {len(_markers(bd))}"
                )
        else:
            if raw >= STREAM_AUTO_MIN_EDGES:
                raise GuardError(f"small_join: {raw} edges is above the stream crossover")
            if os.listdir(bd):
                raise GuardError("small_join: a block dir was created")

    # -- result checks ----------------------------------------------------
    def _check(self, p: Pass, corpus_edges) -> None:
        for op in p.attempted:
            if op in p.failed:
                continue
            try:
                why = self._mismatch(op, p, corpus_edges)
            except Exception as exc:  # a check that cannot run is a failure
                why = f"check raised {exc!r}"
            if why:
                print(f"perfbench: {self.workload} {op} check FAILED: {why}", flush=True)
                p.failed.append(op)
        for op, out in p.out.items():
            if isinstance(out, tuple):
                p.steps[op] = out[0].supersteps
        p.out.clear()

    def _mismatch(self, op: str, p: Pass, corpus_edges) -> str | None:
        if op == "extract":
            got = corpus_edges.toPandas()
            pairs = set(zip(got["src"].tolist(), got["dst"].tolist()))
            if len(got) != len(pairs) or pairs != self.truth_pairs:
                return f"{len(got)} edges vs {len(self.truth_pairs)} true edges"
            return None
        if op == "triangles":
            ref = self.ref["triangles"]
            return None if p.out[op] == ref else f"{p.out[op]} vs {ref}"
        result, pdf = p.out[op]
        pdf = pdf.sort_values("id")
        if op in ("pagerank", "pagerank_ckpt"):
            ids, rank, steps = self.ref["pagerank"]
            if not np.array_equal(pdf["id"].to_numpy(), ids):
                return "vertex set differs"
            got = pdf["rank"].to_numpy()
            if op == "pagerank_ckpt" and "pagerank" not in p.failed:
                full = p.out["pagerank"][1].sort_values("id")["rank"].to_numpy()
                if not np.array_equal(got, full):
                    return "resumed ranks are not bit-equal to the uninterrupted run"
            # Same superstep count: same recurrence, only the float
            # association differs. One step apart (a delta on the tol
            # border): the two differ by less than 2 tol.
            gap = abs(result.supersteps - steps)
            if gap > 1:
                return f"{result.supersteps} supersteps vs {steps}"
            atol = 1e-9 if gap == 0 else 2 * PR_TOL
            if not np.allclose(got, rank, rtol=0, atol=atol):
                return f"max |rank diff| {np.max(np.abs(got - rank)):.3g}"
            return None
        ids, labels = self.ref[op][:2]
        if not np.array_equal(pdf["id"].to_numpy(), ids):
            return "vertex set differs"
        if not np.array_equal(pdf["label"].to_numpy(), labels):
            return f"{int(np.sum(pdf['label'].to_numpy() != labels))} labels differ"
        return None

    # -- traced pass: every layer on its own ------------------------------
    def traced_pass(self) -> Pass:
        """Same ops as the timed pass, each split into its layers: the
        router's |E| count, CsrGraph (build or adopt), the stream or join
        call, and the collect. Spans go to ``self.spans``; layer numbers to
        ``self.layer``."""
        from chaos_spark import algos
        from chaos_spark.csr import CsrGraph
        from chaos_spark.stream import pagerank_stream
        from chaos_spark.stream_algos import cc_stream, lpa_stream

        spark, p, sp, lay = self.spark, Pass(), self.spans, self.layer
        wl = self.workload
        bd = self.dirs["blocks"]
        edges = self.edges
        t_all = time.perf_counter()

        def op(name, fn):
            self.group(name)
            p.attempted.append(name)
            t0 = time.perf_counter()
            p.out[name] = fn()
            p.wall[name] = time.perf_counter() - t0

        if wl == "corpus_cold":
            path = os.path.join(self.dirs["data"], "edges-traced.parquet")
            op("extract", lambda: sp.timed("extract", "extract", lambda: self._extract(path)))
            unresolved = p.out.pop("extract")
            edges = spark.read.parquet(path)
            self.group("untimed")
            lay["extract.busy_s"] = sp.total("extract")
            lay["extract.files"] = self.n_files
            lay["extract.edges"] = edges.count()
            lay["extract.unresolved"] = unresolved.count()

        directed = []

        def csr(name: str, undirected: bool, ne: int | None):
            n0 = len(_markers(bd))
            t0 = time.time()
            g = CsrGraph(spark, edges, undirected=undirected, num_edges=ne)
            kind = "adopt" if len(_markers(bd)) == n0 else (
                "build_undirected" if undirected else "build_directed")
            sp.items.append((f"csr.{kind}", name, t0, time.time()))
            if not undirected:
                directed.append(g)
            return g

        def routed(name, undirected, stream_fn, join_fn):
            # what algos.<op>(mode="auto") does, one layer at a time
            ne = sp.timed("route.count", name, edges.count)
            if wl == "small_join":
                r = sp.timed("join", name, lambda: join_fn(ne))
            else:
                g = csr(name, undirected, None if undirected else ne)
                r = sp.timed("stream", name, lambda: stream_fn(g))
            return r, sp.timed("collect", name, r.state.toPandas)

        op("pagerank", lambda: routed(
            "pagerank", False,
            lambda g: pagerank_stream(spark, edges, tol=PR_TOL, max_iters=PR_MAX_ITERS, graph=g),
            lambda ne: algos.pagerank(spark, edges, tol=PR_TOL, max_iters=PR_MAX_ITERS,
                                      num_edges=ne)))
        op("cc", lambda: routed(
            "cc", True,
            lambda g: cc_stream(spark, edges, graph=g),
            lambda ne: algos.connected_components(spark, edges, num_edges=ne)))
        op("lpa", lambda: routed(
            "lpa", True,
            lambda g: lpa_stream(spark, edges, max_iters=LPA_ITERS, graph=g),
            lambda ne: algos.label_propagation(spark, edges, max_iters=LPA_ITERS,
                                               num_edges=ne)))
        op("triangles", lambda: sp.timed(
            "triangles", "triangles", lambda: algos.triangle_count(spark, edges)))
        lay["triangles.busy_s"] = sp.total("triangles")
        if wl == "corpus_cold":
            ck, mgr = self._checkpointer("traced")
            half = self.ref["pagerank"][2] // 2

            def ckpt():
                g = csr("pagerank_ckpt", False, None)
                sp.timed("stream", "pagerank_ckpt", lambda: pagerank_stream(
                    spark, edges, tol=PR_TOL, max_iters=half, graph=g,
                    checkpointer=mgr, checkpoint_every=half))
                r = sp.timed("checkpoint.resume", "pagerank_ckpt", lambda: pagerank_stream(
                    spark, edges, tol=PR_TOL, max_iters=PR_MAX_ITERS, graph=g,
                    checkpointer=mgr, checkpoint_every=half))
                return r, sp.timed("collect", "pagerank_ckpt", r.state.toPandas)

            op("pagerank_ckpt", ckpt)
            lay["checkpoint.saves"] = len(mgr.manifests())
            lay["checkpoint.bytes"] = _dir_bytes(ck)
            lay["checkpoint.resume_s"] = sp.total("checkpoint.resume")
            lay["csr.block_bytes"] = _dir_bytes(bd)
            lay["csr.partitions"] = directed[0].p
        p.total = time.perf_counter() - t_all
        lay["route.count_s"] = tracing.median(
            [e - s for n, _, s, e in sp.items if n == "route.count"])
        for k in ("build_directed", "build_undirected", "adopt"):
            lay[f"csr.{k}_s"] = sp.total(f"csr.{k}")
        prefix = "join" if wl == "small_join" else "stream"
        for name in ITERATIVE:
            result = p.out[name][0]
            steps = [h["seconds"] for h in result.history]
            lay[f"{prefix}.{name}.supersteps"] = result.supersteps
            lay[f"{prefix}.{name}.superstep_p50_s"] = tracing.median(steps)
            if prefix == "stream":
                lay[f"stream.{name}.iterate_s"] = sum(steps)
                lay[f"stream.{name}.superstep_max_s"] = max(steps)
                lay[f"stream.{name}.other_s"] = sp.total("stream", name) - sum(steps)
        self._check(p, edges if wl == "corpus_cold" else None)
        return p

    def spark_counters(self) -> None:
        """Per-op Spark task counters from the traced session's event log
        (call after that session stopped, when the log is complete)."""
        groups = tracing.read_event_log(self.dirs["events"])
        for name in self.traced.attempted:
            g = groups.get(name)
            if g is None:
                continue
            lo, hi = self.spans.window(name)
            steps = self.traced.steps.get(name, 1)  # single-pass ops: 1
            self.layer.update({
                f"spark.{name}.jobs": g["jobs"],
                f"spark.{name}.jobs_per_superstep": g["jobs"] / steps,
                f"spark.{name}.tasks": g["tasks"],
                f"spark.{name}.task_busy_s": g["run_ms"] / 1e3,
                f"spark.{name}.task_gc_s": g["gc_ms"] / 1e3,
                f"spark.{name}.idle_s": (hi - lo) - tracing.busy_union(g["intervals"], lo, hi),
                f"spark.{name}.shuffle_bytes": g["shuffle_bytes"],
            })
        if "triangles" in groups:
            self.layer["triangles.shuffle_bytes"] = groups["triangles"]["shuffle_bytes"]
