"""The benchmark's workloads and their answer checks.

Both workloads set up the same way: a fresh SparkSession, one
``build_index(..., analyzer="morph")`` over the base corpus
(non-positional, stored fields on), ``build_sharded_segments`` and a
warm-up query on each backend. ``setup_s`` is that whole span; corpus
generation is input and is excluded.

- ``search``: blocks of SEARCH_BLOCK ES request bodies sent to
  ``SearchEngine.query``, each followed by the next body of the same
  sequence, from its start, sent to ``query_sharded``; blocks run until
  the window ends and at least MIN_BLOCKS have run.
- ``ingest``: a burst of driver queries with sharded ones spread among
  them, on the index as built; then upsert batches
  (``update_index(replace=True)``), each made visible to both backends
  (``build_sharded_segments``, a fresh ``SearchEngine`` and a probe
  query on each that must return one of the batch's new documents) and
  followed by a short driver burst; one purging ``compact_index`` and a
  last short driver burst end the run. The query metrics come from the
  first burst. After the writes the driver's CPU p50 varied from 37 to
  57 ms over ten seeds on one host, more than the host alone moves it,
  so those bursts are reported in the detail record (``stacked``,
  ``compacted``) and not gated.

Answers are checked outside the timed spans: driver answers of a
seeded sample of ``match`` bodies against ``bm25_topk_oracle`` under
the index's recorded stats, and every sharded answer against the
driver's answer to the same body. An exception or a wrong answer
fails its operation and never stops the run.
"""

from __future__ import annotations

import functools
import os
import resource
import subprocess
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs
from perfbench.stats import median, summarize

SCORE_TOL = 1e-9
ORACLE_SAMPLE = 2
SEARCH_BLOCK = 32
MIN_BLOCKS = 6  # 192 driver queries, a steady p50 and a p90 tail; 6 sharded
BURST_QUERIES = 128  # a steady p50 and a p90 tail
BURST_SHARDED = 4
AFTER_WRITE_QUERIES = 32
BATCH_SECONDS = 8  # one upsert batch per this many seconds of --seconds


def perf() -> float:
    return time.perf_counter()


@dataclass
class Ops:
    """Operations attempted, failed (exception or wrong answer) and
    checked; ``errors`` keeps the first few failure messages."""

    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    checked: int = 0
    errors: list[str] = field(default_factory=list)

    def call(self, fn):
        """Run one operation: (ok, result, seconds)."""
        self.attempted += 1
        t0 = perf()
        try:
            res = fn()
        except Exception as e:  # a failed operation is a measurement
            dt = perf() - t0
            self.fail(f"{type(e).__name__}: {str(e)[:160]}")
            return False, None, dt
        return True, res, perf() - t0

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 8:
            self.errors.append(msg)

    def verdict(self, ok: bool, what: str) -> None:
        """Record one checked answer; a wrong one fails its operation."""
        self.checked += 1
        if not ok:
            self.wrong += 1
            self.fail(f"wrong answer: {what}")


def hits_of(resp: dict) -> list[tuple[str, float]]:
    return [(h["_id"], float(h["_score"])) for h in resp["hits"]["hits"]]


def same_hits(a: list[tuple[str, float]], b: list[tuple[str, float]]) -> bool:
    return len(a) == len(b) and all(
        ua == ub and abs(sa - sb) <= SCORE_TOL for (ua, sa), (ub, sb) in zip(a, b)
    )


def same_response(a: dict, b: dict) -> bool:
    """Same total, urls and scores. ``_source`` is not compared: the
    sharded backend does not attach stored fields."""
    return a["hits"]["total"]["value"] == b["hits"]["total"]["value"] and same_hits(
        hits_of(a), hits_of(b)
    )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


DERIVED = ("shards", "shard_norms", "shard_docvalues", "shards_meta.json")


def index_bytes(index_dir: str) -> dict[str, int]:
    """Bytes of the index proper by part; the derived sharded layout is
    left out (it is reported as the derive's own output)."""
    out = {"segments": 0, "forward": 0, "stored": 0, "other": 0}
    for name in os.listdir(index_dir):
        if name in DERIVED:
            continue
        p = os.path.join(index_dir, name)
        n = dir_bytes(p) if os.path.isdir(p) else os.path.getsize(p)
        out[name if name in out else "other"] += n
    return out


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Context:
    def __init__(self, spark, seed, seconds, run_dir, meta, layers):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.meta = meta  # inputs.prepare_run: this run's corpus and batches
        self.layers = layers  # perfbench.layers.Layers in a traced run
        self.ops = Ops()
        self.index_dir = os.path.join(run_dir, "index")
        self.bodies = inputs.make_bodies(
            seed, self.meta["ranked_terms"], self.meta["head_terms"], 4000
        )
        self.warm_bodies = inputs.make_bodies(
            seed + 7919, self.meta["ranked_terms"], self.meta["head_terms"], 40
        )
        self.driver_answers: dict[int, dict] = {}

    # -- operations ------------------------------------------------------
    def driver_query(self, engine, qid: int, lat: list[float], cpu: list[float]) -> dict | None:
        """One timed ``SearchEngine.query``: its wall time goes to
        ``lat`` and the CPU time of this process (every thread, so
        pyarrow's readers count) to ``cpu``, both in ms."""
        body = self.bodies[qid % len(self.bodies)]
        if self.layers:
            self.layers.begin_op("driver", qid)
        c0 = time.process_time()
        ok, resp, dt = self.ops.call(lambda: engine.query(body))
        dc = time.process_time() - c0
        if self.layers:
            self.layers.end_op()
        if ok:
            lat.append(dt * 1000.0)
            cpu.append(dc * 1000.0)
            self.driver_answers.setdefault(qid % len(self.bodies), resp)
        return resp if ok else None

    def mixed(self, engine, qids, sids, lat, cpu, sh_lat) -> dict[int, dict]:
        """Driver queries on bodies ``qids`` with sharded queries on bodies
        ``sids`` spread evenly among them, so both backends are timed
        over the same stretch of the run (a shared host's speed drifts
        within it); returns the sharded answers by body id."""
        every = max(1, len(qids) // max(1, len(sids)))
        pending = list(sids)
        answers = {}
        for i, q in enumerate(qids):
            self.driver_query(engine, q, lat, cpu)
            if pending and (i + 1) % every == 0:
                s = pending.pop(0)
                resp = self.sharded_query(self.bodies[s % len(self.bodies)], sh_lat, s)
                if resp is not None:
                    answers[s] = resp
        return answers

    def sharded_query(self, body: dict, lat: list[float], qid: int) -> dict | None:
        from job_searchengine_project_spark.search.cluster import query_sharded

        if self.layers:
            self.layers.begin_op("sharded", qid)
        ok, resp, dt = self.ops.call(
            lambda: query_sharded(self.spark, self.index_dir, body)
        )
        if self.layers:
            self.layers.end_sharded(qid)
        if ok:
            lat.append(dt * 1000.0)
        return resp if ok else None

    # -- checks (outside every timed span) -------------------------------
    def check_sharded(self, qid: int, resp: dict) -> None:
        ref = self.driver_answers.get(qid % len(self.bodies))
        if ref is not None:
            self.ops.verdict(same_response(ref, resp), f"sharded body {qid}")

    def check_oracle(self, engine, qids: list[int]) -> None:
        """Driver answers vs the brute-force BM25 oracle, under the
        index's recorded stats: df and N still count tombstoned docs
        until a purge (index/tombstone.py), so the oracle scores the
        whole forward table and tombstoned docs are dropped after."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from job_searchengine_project_spark.index.tombstone import load_tombstones
        from job_searchengine_project_spark.search.bm25 import bm25_topk_oracle

        if self.layers:
            self.layers.pause()
        fwd = self.spark.read.parquet(os.path.join(self.index_dir, "forward"))
        dele = set(load_tombstones(self.index_dir).tolist())
        plans, wants = [], {}
        for qid in qids:
            body = self.bodies[qid % len(self.bodies)]
            resp = self.driver_answers.get(qid % len(self.bodies))
            if resp is None:
                continue
            text = body["query"]["match"]["text"]
            terms = sorted({t["token"] for t in engine.analyze(text)})
            frm, size = int(body.get("from", 0)), int(body["size"])
            wants[qid] = (frm, size, hits_of(resp))
            plans.append(
                bm25_topk_oracle(
                    fwd, terms, k=frm + size + len(dele),
                    n_docs=engine.n_eff, avgdl=engine.avgdl,
                ).withColumn("qid", F.lit(qid))
            )
        if plans:
            # one Spark action for the whole sample
            try:
                rows = functools.reduce(DataFrame.unionByName, plans).collect()
            except Exception:
                self.ops.fail("oracle: " + traceback.format_exc(limit=1)[-160:])
                rows = None
            if rows is not None:
                for qid, (frm, size, got) in wants.items():
                    ranked = sorted(
                        (r for r in rows if r["qid"] == qid and r["doc_id"] not in dele),
                        key=lambda r: (-r["score"], r["doc_id"]),
                    )[frm : frm + size]
                    want = [(r["url"], float(r["score"])) for r in ranked]
                    self.ops.verdict(same_hits(want, got), f"oracle body {qid}")
        if self.layers:
            self.layers.resume()

    def oracle_sample(self, qids: list[int], salt: int) -> list[int]:
        """A seeded sample of answered ``match`` bodies."""
        cand = sorted(
            q for q in set(qids)
            if "match" in self.bodies[q % len(self.bodies)]["query"]
            and (q % len(self.bodies)) in self.driver_answers
        )
        if not cand:
            return []
        rng = np.random.default_rng([self.seed, salt])
        pick = rng.choice(len(cand), size=min(ORACLE_SAMPLE, len(cand)), replace=False)
        return [cand[i] for i in sorted(pick)]


# -- set-up ---------------------------------------------------------------


def setup(ctx: Context, session_s: float) -> tuple[object, dict]:
    """Build, derive and warm; returns (engine, figures)."""
    from job_searchengine_project_spark.index.build import build_index
    from job_searchengine_project_spark.index.sharded import build_sharded_segments
    from job_searchengine_project_spark.search.engine import SearchEngine

    spark = ctx.spark
    t0 = perf()
    pages = spark.read.parquet(os.path.join(ctx.meta["dir"], "base"))
    t_build = perf()
    res = build_index(spark, pages, ctx.index_dir, analyzer="morph")
    build_s = perf() - t_build
    build_sharded_segments(spark, ctx.index_dir)
    engine = SearchEngine(ctx.index_dir)
    for body in ctx.warm_bodies[:3]:
        ctx.ops.call(lambda b=body: engine.query(b))
    from job_searchengine_project_spark.search.cluster import query_sharded

    ctx.ops.call(lambda: query_sharded(spark, ctx.index_dir, ctx.warm_bodies[3]))
    setup_s = session_s + (perf() - t0)
    if res.n_docs != ctx.meta["base_docs"]:
        ctx.ops.verdict(False, f"build indexed {res.n_docs} docs")
    return engine, {
        "setup_s": setup_s,
        "session_s": session_s,
        "build_s": build_s,
        "build_docs_per_s": res.n_docs / build_s,
    }


def trace_overhead(ctx: Context, engine) -> None:
    """Traced minus untraced p50 over the same warm-up bodies."""
    if not ctx.layers:
        return
    bodies = ctx.warm_bodies[4:]
    lat = {False: [], True: []}
    for traced in (False, True):
        ctx.layers.tracer.active = traced
        for body in bodies:
            t0 = perf()
            engine.query(body)
            lat[traced].append((perf() - t0) * 1000.0)
    ctx.layers.tracer.active = True
    ctx.layers.overhead = (median(lat[True]), median(lat[False]))


# -- workloads --------------------------------------------------------------


def run_search(ctx: Context, session_s: float) -> dict:
    engine, fig = setup(ctx, session_s)
    trace_overhead(ctx, engine)
    lat: list[float] = []
    cpu: list[float] = []
    sh_lat: list[float] = []
    sh_answers = {}
    t_end = perf() + ctx.seconds
    b = 0
    while perf() < t_end or b < MIN_BLOCKS:
        qids = range(b * SEARCH_BLOCK, (b + 1) * SEARCH_BLOCK)
        sh_answers.update(ctx.mixed(engine, qids, [b], lat, cpu, sh_lat))
        b += 1
    for s, resp in sh_answers.items():
        ctx.check_sharded(s, resp)
    ctx.check_oracle(engine, ctx.oracle_sample(list(range(b * SEARCH_BLOCK)), 1))
    parts = index_bytes(ctx.index_dir)
    if ctx.layers:
        ctx.layers.snapshot_index(ctx.index_dir, tombstones=0)
    fig.update(
        driver=summarize(lat),
        driver_cpu=summarize(cpu),
        sharded=summarize(sh_lat),
        index_parts=parts,
        index_bytes_per_text_byte=sum(parts.values()) / ctx.meta["base_text_bytes"],
    )
    return fig


def run_ingest(ctx: Context, session_s: float) -> dict:
    from job_searchengine_project_spark.index.compact import compact_index
    from job_searchengine_project_spark.index.sharded import build_sharded_segments
    from job_searchengine_project_spark.index.tombstone import load_tombstones
    from job_searchengine_project_spark.index.update import update_index
    from job_searchengine_project_spark.search.engine import SearchEngine
    spark = ctx.spark
    n_batches = max(1, int(ctx.seconds // BATCH_SECONDS))
    batches = ctx.meta["batches"][:n_batches]
    if len(batches) < n_batches:
        raise ValueError(f"{n_batches} batches asked for, the corpus has {len(batches)}")
    live_text = ctx.meta["base_text_bytes"]

    engine, fig = setup(ctx, session_s)
    trace_overhead(ctx, engine)
    lat: list[float] = []
    cpu: list[float] = []
    sh_lat: list[float] = []
    first = range(BURST_QUERIES)
    for q, resp in ctx.mixed(engine, first, first[:BURST_SHARDED], lat, cpu, sh_lat).items():
        ctx.check_sharded(q, resp)
    qid = BURST_QUERIES
    lat_s: list[float] = []
    cpu_s: list[float] = []
    visible: list[float] = []
    for b, batch in enumerate(batches):
        pages = spark.read.parquet(os.path.join(ctx.meta["dir"], "batches", f"batch={b}"))
        url = batch["probe_url"]
        probe = inputs.probe_body(batch["probe_terms"])
        if ctx.layers:
            ctx.layers.note_batch(batch["text_bytes"])
        t0 = perf()
        ok, _, _ = ctx.ops.call(lambda: update_index(spark, pages, ctx.index_dir, replace=True))
        ok = ok and ctx.ops.call(lambda: build_sharded_segments(spark, ctx.index_dir))[0]
        engine = SearchEngine(ctx.index_dir)
        ok_d, r_d, _ = ctx.ops.call(lambda: engine.query(probe))
        r_s = ctx.sharded_query(probe, [], -1 - b)  # timed as visibility
        t_visible = perf() - t0
        served = ok and ok_d and r_s is not None
        if served:
            found = tuple(url in dict(hits_of(r)) for r in (r_d, r_s))
            ctx.ops.verdict(
                all(found),
                f"batch {b} probe found (driver, sharded) = {found}, "
                f"total {r_d['hits']['total']['value']}",
            )
            ctx.ops.verdict(same_response(r_d, r_s), f"batch {b} probe sharded parity")
            if all(found):
                visible.append(t_visible)
        live_text += batch["text_bytes"] - batch["replaced_text_bytes"]
        for q in range(qid, qid + AFTER_WRITE_QUERIES):
            ctx.driver_query(engine, q, lat_s, cpu_s)
        qid += AFTER_WRITE_QUERIES
    # the last burst answered against the index as it stands now, with
    # the batches' tombstones still counting in df and N
    ctx.check_oracle(engine, ctx.oracle_sample(list(range(qid - AFTER_WRITE_QUERIES, qid)), 2))
    n_tomb = int(load_tombstones(ctx.index_dir).size)
    if ctx.layers:
        ctx.layers.snapshot_index(ctx.index_dir, tombstones=n_tomb)
        ctx.layers.before_compact(ctx.index_dir)

    t0 = perf()
    ok, _, _ = ctx.ops.call(lambda: compact_index(spark, ctx.index_dir))
    compact_s = perf() - t0
    if ctx.layers:
        ctx.layers.after_compact(ctx.index_dir)
    engine = SearchEngine(ctx.index_dir)
    lat_c: list[float] = []
    cpu_c: list[float] = []
    for q in range(qid, qid + AFTER_WRITE_QUERIES):
        ctx.driver_query(engine, q, lat_c, cpu_c)
    parts = index_bytes(ctx.index_dir)
    fig.update(
        driver=summarize(lat),
        driver_cpu=summarize(cpu),
        stacked=summarize(lat_s),
        stacked_cpu=summarize(cpu_s),
        compacted=summarize(lat_c),
        compacted_cpu=summarize(cpu_c),
        sharded=summarize(sh_lat),
        upsert_visible=summarize(visible),
        compact_s=compact_s if ok else None,
        tombstones=n_tomb,
        index_parts=parts,
        index_bytes_per_text_byte=sum(parts.values()) / live_text,
    )
    return fig


class Unmeasured(RuntimeError):
    """A metric had no successful sample, so the run has no result."""


WORKLOADS = {"search": run_search, "ingest": run_ingest}

# end-to-end metric -> (unit, its value in a run's figures)
END_TO_END = {
    "setup_s": ("s", lambda f: f["setup_s"]),
    "build_docs_per_s": ("docs/s", lambda f: f["build_docs_per_s"]),
    "index_bytes_per_text_byte": ("ratio", lambda f: f["index_bytes_per_text_byte"]),
    "query_cpu_p50_ms": ("ms", lambda f: f["driver_cpu"]["p50"]),
    "query_cpu_tail_ms": ("ms", lambda f: f["driver_cpu"]["tail"]),
    "sharded_query_p50_ms": ("ms", lambda f: f["sharded"]["p50"]),
    "peak_rss_mb": ("MB", lambda f: f["peak_rss_mb"]),
}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM pyspark launched for it, and wait
    for it to exit (it exits on EOF on its stdin)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(workload, seed, seconds, trace, run_dir, meta, conf) -> dict:
    from job_searchengine_project_spark.session import get_spark

    layers = None
    if trace:
        from perfbench.layers import Layers

        layers = Layers(os.path.join(run_dir, "eventlog"))
    t0 = perf()
    spark = get_spark(app_name=f"perfbench-{workload}", master="local[4]", extra_conf=conf)
    session_s = perf() - t0
    ctx = Context(spark, seed, seconds, run_dir, meta, layers)
    t_work = perf()
    try:
        if layers:
            layers.install(spark.sparkContext)
        fig = WORKLOADS[workload](ctx, session_s)
        fig["peak_rss_mb"] = peak_rss_mb()
        fig["workload_wall_s"] = perf() - t_work
        if layers:
            layers.read_jvm(spark)
    finally:
        if layers:
            layers.uninstall()
        stop_spark(spark)
    ops = ctx.ops
    fig.update(
        workload=workload, seed=seed, attempted=ops.attempted, failed=ops.failed,
        wrong=ops.wrong, checked=ops.checked, errors=ops.errors,
        failed_ops_ratio=ops.failed / max(ops.attempted, 1),
    )
    if layers:
        metrics = layers.metrics(fig)
    else:
        metrics = {k: {"value": get(fig), "unit": u} for k, (u, get) in END_TO_END.items()}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        raise Unmeasured(f"no samples for {missing}; errors: {ops.errors}")
    return {
        "detail": fig,
        "result": {
            "correct": ops.wrong == 0 and ops.checked > 0,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": metrics,
        },
    }
