"""Per-layer metrics of the traced run.

:class:`LayerProbe` wraps the engine's entry points in spans (see
``tracing.Tracer``), records counts at the same boundaries, reads
``metrics.REGISTRY`` deltas over the traced window and turns all of it
into the metrics listed in ``layers.json``.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import Counter
from pathlib import Path

SPEC = json.loads(Path(__file__).with_name("layers.json").read_text())["metrics"]

_QUERY_SPANS = ("table.read", "table.prune_files")


def _registry_state() -> tuple[dict, dict]:
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    ops = {k: (v.count, v.total_ms) for k, v in list(REGISTRY.ops.items())}
    return ops, dict(REGISTRY.counters)


def registry_names_emitted(names) -> set[str]:
    """The REGISTRY names that some engine source file still emits."""
    import ducklake_kafka_connect_spark as pkg

    text = []
    for d, _, files in os.walk(os.path.dirname(pkg.__file__)):
        text += [Path(d, f).read_text() for f in files if f.endswith(".py")]
    blob = "\n".join(text)
    return {n for n in names if f'"{n}"' in blob}


class LayerProbe:
    def __init__(self, tracer):
        self.tracer = tracer
        self.counts: Counter = Counter()

    # ---- boundary counters ----

    def _on_commit(self, span, args, kwargs, _out):
        manifest = args[1]
        parent = kwargs.get("parent_manifest", args[2] if len(args) > 2 else None)
        old = set(parent.all_files()) if parent is not None else set()
        for f in set(manifest.all_files()) - old:
            st = manifest.file_stats.get(f) or {}
            self.counts["files_written"] += 1
            self.counts["bytes_written"] += int(st.get("__bytes") or 0)
            self.counts["rows_written"] += int(st.get("__rows") or 0)
        if parent is not None and [
            (f.name, f.dataType) for f in manifest.schema.fields
        ] != [(f.name, f.dataType) for f in parent.schema.fields]:
            self.counts["evolutions"] += 1
        self.counts["commits"] += 1

    def _on_prune(self, span, args, kwargs, out):
        kept, pruned = out
        self.counts["files_kept"] += len(kept)
        self.counts["files_pruned"] += pruned

    def _on_put(self, span, args, kwargs, _out):
        self.counts["puts"] += 1
        payload = args[2] if len(args) > 2 else kwargs.get("payload", b"")
        self.counts["meta_bytes"] += len(payload)

    def _on_get(self, span, args, kwargs, out):
        self.counts["gets"] += 1
        if isinstance(out, (bytes, str)):
            self.counts["meta_bytes"] += len(out)

    def _on_list(self, span, args, kwargs, _out):
        self.counts["lists"] += 1

    def install(self) -> None:
        from ducklake_kafka_connect_spark.lake import backend, maintenance, table, writer
        from ducklake_kafka_connect_spark.sources import json_decode
        from ducklake_kafka_connect_spark.streaming import ingest

        w = self.tracer.wrap
        w(ingest.IngestPipeline, "process_batch", "ingest.process_batch", "streaming.ingest")
        w(ingest, "decode_json", "decode.decode_json", "sources.json_decode")
        w(ingest, "split_dlq", "decode.split_dlq", "sources.json_decode", jobs=False)
        w(json_decode, "infer_batch_schema", "decode.infer", "sources.json_decode")
        w(writer, "plan_evolution", "schema.plan_evolution", "schema", jobs=False)
        for m in ("write", "write_many", "append", "merge", "merge_many"):
            w(writer.LakeWriter, m, f"writer.{m}", "lake.writer")
        T = table.LakeTable
        w(T, "write_data_files", "table.write_data_files", "lake.table")
        w(T, "_commit", "table.commit", "lake.table", on_call=self._on_commit)
        w(T, "manifest", "table.manifest", "lake.table", jobs=False)
        w(T, "read", "table.read", "lake.table")
        w(T, "prune_files", "table.prune_files", "lake.table", on_call=self._on_prune)
        B = backend.PosixBackend
        for m in ("put", "put_if_absent"):
            w(B, m, f"backend.{m}", "lake.backend", jobs=False, on_call=self._on_put)
        for m in ("read_bytes", "try_read_bytes", "exists"):
            w(B, m, f"backend.{m}", "lake.backend", jobs=False, on_call=self._on_get)
        for m in ("list_names", "walk_files"):
            w(B, m, f"backend.{m}", "lake.backend", jobs=False, on_call=self._on_list)
        w(maintenance, "compact", "maintenance.compact", "lake.maintenance")

    # ---- the traced window ----

    def start(self) -> None:
        self.counts.clear()
        self.first_span = len(self.tracer.spans)
        self.overhead0 = self.tracer.overhead_s
        self.reg0 = _registry_state()

    def finish(self, *, batches, queries, rows_in, window_s, idle_s,
               dlq_rows, warmup_ms, unit_ms) -> tuple[dict, list[str]]:
        """→ ({metric: value}, [missing metric names])."""
        overhead = self.tracer.overhead_s - self.overhead0
        ops1, ctr1 = _registry_state()
        ops0, ctr0 = self.reg0
        spans = self.tracer.spans[self.first_span:]
        self.tracer.resolve_jobs(spans)

        def op(name):
            c1, t1 = ops1.get(name, (0, 0.0))
            c0, t0 = ops0.get(name, (0, 0.0))
            return c1 - c0, t1 - t0

        def ctr(name):
            return ctr1.get(name, 0) - ctr0.get(name, 0)

        by_id = {s.sid: s for s in spans}
        incl = {s.sid: s.jobs for s in spans}
        for s in reversed(spans):
            if s.parent in incl:
                incl[s.parent] += incl[s.sid]

        def outer(layer):
            return [
                s for s in spans
                if s.layer == layer
                and (s.parent is None or by_id[s.parent].layer != layer)
            ]

        def self_ms(layer):
            return sum(s.self_s for s in spans if s.layer == layer) * 1e3

        def wall_ms(name):
            return sum(s.wall_s for s in spans if s.name == name) * 1e3

        B, Q = max(batches, 1), max(queries, 1)
        OPS = max(batches + queries, 1)
        C = max(self.counts["commits"], 1)
        plan_n, plan_ms = op("merge.planAgg")
        arrow_n, _ = op("merge.arrowBatchEval")
        ac_n, ac_ms = op("autoCompact")
        top = sum(s.wall_s for s in spans if s.parent is None)
        kept = self.counts["files_kept"]
        considered = kept + self.counts["files_pruned"]
        m = {
            "ingest.self_ms": self_ms("streaming.ingest") / B,
            "ingest.jobs_per_batch": sum(incl[s.sid] for s in outer("streaming.ingest")) / B,
            "ingest.warmup_ms": warmup_ms,
            "decode.self_ms": self_ms("sources.json_decode") / B,
            "decode.infer_ms": wall_ms("decode.infer") / B,
            "decode.infer_jobs": sum(incl[s.sid] for s in spans if s.name == "decode.infer") / B,
            "decode.dlq_rows": dlq_rows,
            "schema.reconcile_ms": self_ms("schema") / B,
            "schema.evolutions": self.counts["evolutions"],
            "writer.self_ms": self_ms("lake.writer") / B,
            "writer.write_ms": sum(s.wall_s for s in outer("lake.writer")) * 1e3 / B,
            "writer.jobs_per_write": sum(incl[s.sid] for s in outer("lake.writer")) / B,
            "writer.arrow_path_merges": arrow_n - ctr("merge.arrowFallback"),
            "writer.spark_path_merges": plan_n + ctr("merge.arrowFallback"),
            "writer.fallbacks": ctr("merge.arrowFallback") + ctr("append.arrowFallback"),
            "writer.plan_agg_ms": plan_ms / B,
            "writer.bloom_probe_ms": op("merge.bloomProbe")[1] / B,
            "writer.commit_replans": ctr("merge.commitConflictReplans"),
            "table.self_ms": self_ms("lake.table") / OPS,
            "table.write_files_ms": wall_ms("table.write_data_files") / B,
            "table.files_written": self.counts["files_written"] / B,
            "table.bytes_written": self.counts["bytes_written"] / B,
            "table.rows_written_per_row_in": self.counts["rows_written"] / max(rows_in, 1),
            "table.manifest_ms": wall_ms("table.manifest") / OPS,
            "table.manifest_resolves": ctr("manifest.resolves") / OPS,
            "table.read_plan_ms": sum(
                s.wall_s for s in spans if s.parent is None and s.name in _QUERY_SPANS
            ) * 1e3 / Q,
            "table.files_kept_ratio": kept / considered if considered else 1.0,
            "backend.self_ms": self_ms("lake.backend") / C,
            "backend.puts_per_commit": self.counts["puts"] / C,
            "backend.gets_per_commit": self.counts["gets"] / C,
            "backend.lists_per_commit": self.counts["lists"] / C,
            "backend.meta_bytes_per_commit": self.counts["meta_bytes"] / C,
            "maintenance.autocompacts": ac_n,
            "maintenance.autocompact_ms": ac_ms / B,
            "spark.self_ms": self_ms("spark") / Q,
            "spark.jobs": sum(s.jobs for s in spans) / OPS,
            "spark.tasks": sum(s.tasks for s in spans) / OPS,
            "unattributed_ms": (window_s - idle_s - top) * 1e3 / OPS,
            "trace.overhead_ms": overhead * 1e3 / OPS,
            "traced.unit_ms_p50": statistics.median(unit_ms),
        }
        reg_names = {n for spec in SPEC for n in spec.get("registry", ())}
        emitted = registry_names_emitted(reg_names)
        missing = [
            spec["name"] for spec in SPEC
            if not set(spec.get("registry", ())) <= emitted
        ]
        for name in missing:
            m.pop(name, None)
        return m, missing
