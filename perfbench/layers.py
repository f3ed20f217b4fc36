"""Per-layer figures for the traced run (``--trace 1``).

Spans come from wrappers around the engine's public functions (see
``install``); Spark work is attributed through the event log, by the
job descriptions the wrappers set and by a job group per sharded
query. Layer names follow the engine's modules.
"""

from __future__ import annotations

import os
from collections import defaultdict

from perfbench.trace import (
    Instrumenter,
    Tracer,
    attribute,
    clip,
    read_event_log,
    self_times,
    union_length,
)

CHECK_LABEL = "perfbench.check"
SHARDED_GROUP = "perfbench-sq-"

PER_LAYER = {
    "index.prepare.busy_s": "s",
    "index.build.scan_busy_s": "s",
    "index.build.segments_busy_s": "s",
    "index.build.stored_busy_s": "s",
    "index.build.shuffle_write_bytes": "bytes",
    "index.build.driver_only_s": "s",
    "index.build.spark_jobs": "count",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "index.bytes.segments": "bytes",
    "index.bytes.forward": "bytes",
    "index.bytes.stored": "bytes",
    "index.bytes.other": "bytes",
    "search.engine.load_segments_ms": "ms",
    "search.engine.read_bytes_per_query": "bytes",
    "search.wand.topk_ms": "ms",
    "search.wand.query_share": "ratio",
    "index.codec.blocks_decoded_ratio": "ratio",
    "search.engine.fields_ms": "ms",
    "search.engine.query_self_ms": "ms",
    "search.engine.exhaustive_topk_ms": "ms",
    "search.cluster.spark_jobs_per_query": "count",
    "search.cluster.executor_busy_ms": "ms",
    "search.cluster.wait_ms": "ms",
    "index.sharded.driver_read_ms": "ms",
    "index.update.update_s": "s",
    "index.update.visible_p50_s": "s",
    "index.update.bytes_written_per_batch_byte": "ratio",
    "index.sharded.derive_s": "s",
    "index.sharded.derive_bytes_written": "bytes",
    "index.segments.rows_per_term": "ratio",
    "index.tombstone.count": "count",
    "index.compact.compact_s": "s",
    "index.compact.bytes_rewritten": "bytes",
    "machine.steal_s": "s",
    "jvm.peak_rss_mb": "MB",
    "failed_ops_ratio": "ratio",
    "trace.query_p50_ms": "ms",
    "trace.overhead_ms": "ms",
}

BUILD_PARTS = {"forward": "prepare", "stored": "stored", "segments": "segments"}


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _rchar() -> int:
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Layers:
    def __init__(self, event_log_dir: str) -> None:
        self.tracer = Tracer()
        self.event_log_dir = event_log_dir
        self.overhead: tuple[float, float] | None = None
        self.sharded_jobs: dict[int, int] = {}
        self.update_bytes: list[float] = []
        self.derive_bytes: list[int] = []
        self.batch_bytes: list[int] = []
        self.rows_per_term = 0.0
        self.tombstones = 0
        self.compact_rewritten = 0
        self.jvm_peak_mb = 0.0
        self._index_total = 0
        self._pre_compact: dict[str, tuple[int, int]] = {}
        self._steal0 = _steal_ticks()
        self._instr: Instrumenter | None = None
        self._sc = None

    # -- wiring --------------------------------------------------------------
    def install(self, sc) -> None:
        from job_searchengine_project_spark.index import (
            build,
            codec,
            compact,
            ids,
            prepare,
            sharded,
            update,
        )
        from job_searchengine_project_spark.search import cluster, engine
        from perfbench.workloads import index_bytes

        self._sc = sc
        t = self.tracer
        ins = self._instr = Instrumenter(t, sc)
        ins.label_actions()

        def after_build(args, kwargs, res):
            self._index_total = sum(index_bytes(res.out_dir).values())

        def after_update(args, kwargs, res):
            total = sum(index_bytes(args[2]).values())
            self.update_bytes.append(total - self._index_total)
            self._index_total = total

        def after_derive(args, kwargs, res):
            from perfbench.workloads import DERIVED, dir_bytes

            self.derive_bytes.append(
                sum(dir_bytes(os.path.join(args[1], d)) for d in DERIVED[:3])
            )

        ins.patch_function(build, "build_index", "index.build", after_build)
        ins.patch_function(prepare, "prepare_docs", "index.prepare")
        ins.patch_function(ids, "assign_doc_ids", "index.ids")
        ins.patch_function(update, "update_index", "index.update", after_update)
        ins.patch_function(compact, "compact_index", "index.compact")
        ins.patch_function(
            sharded, "build_sharded_segments", "index.sharded.derive", after_derive
        )
        for name in ("_global_df_map", "fetch_urls_map"):
            ins.patch_function(sharded, name, "index.sharded.driver_read")
        ins.patch_function(cluster, "_stored_fields_for", "index.sharded.driver_read")
        ins.patch_function(cluster, "query_sharded", "search.cluster.query")
        ins.patch_function(engine, "wand_topk", "search.wand.topk")
        ins.patch_function(engine, "exhaustive_topk_arrays", "search.engine.exhaustive_topk")
        ins.patch_method(engine.SearchEngine, "fields_of_many", "search.engine.fields")

        def loaded(args, kwargs, res):
            if self._in_driver_op():
                t.count("blocks_loaded", sum(len(e.block_n) for e in res.values()))

        ins.patch_method(
            engine.SearchEngine, "load_segments", "search.engine.load_segments", loaded
        )
        self._wrap_query(ins, engine.SearchEngine)
        self._count_decodes(ins, codec)

    def _wrap_query(self, ins: Instrumenter, cls) -> None:
        """SearchEngine.query: a span plus the bytes the process read."""
        t = self.tracer
        ins.patch_method(cls, "query", "search.engine.query")
        traced = cls.query

        def query(self_, body):
            if not (t.active and self._in_driver_op()):
                return traced(self_, body)
            r0 = _rchar()
            try:
                return traced(self_, body)
            finally:
                t.count("driver_rchar", _rchar() - r0)

        ins.replace(cls, "query", query)

    def _count_decodes(self, ins: Instrumenter, codec) -> None:
        """Blocks decoded, counted exactly at the codec's two decoders
        (no span: they run once per block)."""
        t = self.tracer
        decode_block, decode_postings = codec.decode_block, codec.decode_postings

        def counted_block(*a, **k):
            if self._in_driver_op():
                t.count("blocks_decoded")
            return decode_block(*a, **k)

        def counted_postings(enc, *a, **k):
            if self._in_driver_op():
                t.count("blocks_decoded", len(enc.block_n))
            return decode_postings(enc, *a, **k)

        ins.replace(codec, "decode_block", counted_block)
        ins.replace(codec, "decode_postings", counted_postings)

    def uninstall(self) -> None:
        if self._instr is not None:
            self._instr.restore()

    def _in_driver_op(self) -> bool:
        op = self.tracer.op
        return op is not None and op[0] == "driver"

    # -- hooks the workloads call --------------------------------------------
    def begin_op(self, kind: str, qid: int) -> None:
        self.tracer.op = (kind, qid)
        if kind == "sharded":
            self._sc.setJobGroup(f"{SHARDED_GROUP}{qid}", "sharded query", False)

    def end_op(self) -> None:
        self.tracer.op = None

    def end_sharded(self, qid: int) -> None:
        ids = self._sc.statusTracker().getJobIdsForGroup(f"{SHARDED_GROUP}{qid}")
        self.sharded_jobs[qid] = len(ids)
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self.end_op()

    def pause(self) -> None:
        self.tracer.active = False
        self._sc.setJobDescription(CHECK_LABEL)

    def resume(self) -> None:
        self.tracer.active = True
        self._sc.setJobDescription(None)

    def note_batch(self, text_bytes: int) -> None:
        self.batch_bytes.append(text_bytes)

    def snapshot_index(self, index_dir: str, tombstones: int) -> None:
        import pyarrow.dataset as pads

        terms = pads.dataset(
            os.path.join(index_dir, "segments"), partitioning="hive"
        ).to_table(columns=["term"]).column("term")
        self.rows_per_term = len(terms) / max(1, len(terms.unique()))
        self.tombstones = tombstones

    def before_compact(self, index_dir: str) -> None:
        self._pre_compact = _files(index_dir)

    def after_compact(self, index_dir: str) -> None:
        self.compact_rewritten = sum(
            size for p, (size, mt) in _files(index_dir).items()
            if self._pre_compact.get(p) != (size, mt)
        )

    def read_jvm(self, spark) -> None:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    self.jvm_peak_mb = int(line.split()[1]) / 1024.0

    # -- figures -------------------------------------------------------------
    def metrics(self, fig: dict) -> dict:
        spans = self.tracer.spans
        selfs = self_times(spans)
        by_name = defaultdict(list)
        for sp in spans:
            if sp.end is not None:
                by_name[sp.name].append(sp)
        log = read_event_log(self.event_log_dir)

        def mean_dur(name):
            xs = [sp.end - sp.start for sp in by_name[name]]
            return sum(xs) / len(xs) if xs else 0.0

        # build: every Spark job and stage submitted inside the build span
        m: dict[str, float] = {}
        builds = by_name["index.build"]
        b0 = builds[0] if builds else None

        def in_build(desc, group, t_ms):
            return b0 is not None and b0.start <= t_ms / 1000.0 <= b0.end

        busy = defaultdict(float)
        for agg in log.stages.values():
            if in_build(agg.desc, agg.group, agg.submit_ms):
                target = agg.desc.rsplit("write:", 1)[-1] if "write:" in agg.desc else ""
                part = BUILD_PARTS.get(target, "scan")
                if agg.desc.startswith(("index.prepare", "index.ids")):
                    part = "prepare"
                busy[part] += agg.run_ms / 1000.0
        build_att = attribute(log, in_build)
        m["index.prepare.busy_s"] = busy["prepare"]
        m["index.build.scan_busy_s"] = busy["scan"]
        m["index.build.segments_busy_s"] = busy["segments"]
        m["index.build.stored_busy_s"] = busy["stored"]
        m["index.build.shuffle_write_bytes"] = build_att.shuffle_write_bytes
        m["index.build.driver_only_s"] = (
            (b0.end - b0.start) - union_length(clip(build_att.intervals, b0.start, b0.end))
            if b0 else 0.0
        )
        m["index.build.spark_jobs"] = build_att.jobs

        total = attribute(log, lambda d, g, t: not d.startswith(CHECK_LABEL))
        m["spark.gc_s"] = total.gc_s
        m["spark.spill_bytes"] = total.spill_bytes
        m["spark.failed_tasks"] = total.failed_tasks

        for part, n in fig["index_parts"].items():
            m[f"index.bytes.{part}"] = n

        # driver engine: spans inside the timed driver queries, per query
        drv = [sp for sp in spans if sp.op and sp.op[0] == "driver" and sp.end]
        queries = [sp for sp in drv if sp.name == "search.engine.query"]
        n_q = max(1, len(queries))

        def per_query_ms(name):
            return sum(sp.end - sp.start for sp in drv if sp.name == name) * 1e3 / n_q

        wand_ops = {sp.op for sp in drv if sp.name == "search.wand.topk"}
        m["search.engine.load_segments_ms"] = per_query_ms("search.engine.load_segments")
        m["search.engine.read_bytes_per_query"] = self.tracer.counters["driver_rchar"] / n_q
        m["search.wand.topk_ms"] = per_query_ms("search.wand.topk")
        m["search.wand.query_share"] = len(wand_ops) / n_q
        m["index.codec.blocks_decoded_ratio"] = self.tracer.counters["blocks_decoded"] / max(
            1, self.tracer.counters["blocks_loaded"]
        )
        m["search.engine.fields_ms"] = per_query_ms("search.engine.fields")
        m["search.engine.query_self_ms"] = sum(selfs[sp.sid] for sp in queries) * 1e3 / n_q
        m["search.engine.exhaustive_topk_ms"] = per_query_ms("search.engine.exhaustive_topk")

        # sharded queries: jobs per query group, their busy and wait time
        sq = [sp for sp in by_name["search.cluster.query"] if sp.op and sp.op[0] == "sharded"]
        n_s = max(1, len(sq))
        busy_ms = wait_ms = 0.0
        for sp in sq:
            grp = f"{SHARDED_GROUP}{sp.op[1]}"
            att = attribute(log, lambda d, g, t, grp=grp: g == grp)
            busy_ms += att.run_s * 1e3
            wait_ms += union_length(clip(att.intervals, sp.start, sp.end)) * 1e3
        m["search.cluster.spark_jobs_per_query"] = (
            sum(self.sharded_jobs.values()) / max(1, len(self.sharded_jobs))
        )
        m["search.cluster.executor_busy_ms"] = busy_ms / n_s
        m["search.cluster.wait_ms"] = wait_ms / n_s
        sq_ops = {sp.op for sp in sq}
        m["index.sharded.driver_read_ms"] = sum(
            sp.end - sp.start for sp in by_name["index.sharded.driver_read"]
            if sp.op in sq_ops
        ) * 1e3 / n_s

        # write path
        m["index.update.update_s"] = mean_dur("index.update")
        vis = fig.get("upsert_visible") or {}
        m["index.update.visible_p50_s"] = vis.get("p50") or 0.0
        m["index.update.bytes_written_per_batch_byte"] = (
            sum(self.update_bytes) / sum(self.batch_bytes) if self.batch_bytes else 0.0
        )
        m["index.sharded.derive_s"] = mean_dur("index.sharded.derive")
        m["index.sharded.derive_bytes_written"] = (
            sum(self.derive_bytes) / len(self.derive_bytes) if self.derive_bytes else 0
        )
        m["index.segments.rows_per_term"] = self.rows_per_term
        m["index.tombstone.count"] = self.tombstones
        m["index.compact.compact_s"] = fig.get("compact_s") or 0.0
        m["index.compact.bytes_rewritten"] = self.compact_rewritten

        m["machine.steal_s"] = (_steal_ticks() - self._steal0) / os.sysconf("SC_CLK_TCK")
        m["jvm.peak_rss_mb"] = self.jvm_peak_mb
        m["failed_ops_ratio"] = fig["failed_ops_ratio"]
        traced, untraced = self.overhead or (0.0, 0.0)
        m["trace.query_p50_ms"] = fig["driver"]["p50"] or 0.0
        m["trace.overhead_ms"] = traced - untraced
        fig["trace_probe_p50_ms"] = {"traced": traced, "untraced": untraced}
        return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
