"""The closed-loop workloads. One client issues one operation at a time
through ``xdlake_spark``'s public API and checks every answer against the
seeded generator (``gen``).

A workload runs ``prepare`` once, then ``round`` repeatedly (the first
round warms the JVM and is not measured), then ``finish``. Every top-level
operation has a role: ``write`` operations (each one commit) feed
``write_p50_ms``, ``read`` operations feed ``read_p50_ms``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from xdlake_spark import DeltaLog, DeltaTable
from xdlake_spark.operators.dedup import (dedup_keepers_from_pairs,
                                          exact_dedup, minhash_lsh_pairs)
from xdlake_spark.operators.similarity import brute_force_topk
from xdlake_spark.operators.text import normalize_text
from xdlake_spark.plans.skipping import prune_manifest

import gen
from spans import Recorder, p50, tail

# ``warmup_rounds``: rounds run before measuring; the dedup pipeline's
# latency keeps falling through its second round while the JVM warms up.
SIZES = {
    "table_mix": {"fact_rows": 100_000, "batch_rows": 2_000,
                  "appends_per_round": 3, "reads_per_round": 2,
                  "merge_rows": 200, "warmup_rounds": 1, "ref_repeats": 1},
    "llm_dedup_pipeline": {"docs_per_batch": 1_000, "vectors": 10_000,
                           "queries_per_round": 3, "k": 10,
                           "warmup_rounds": 2, "ref_repeats": 3},
}


class Workload:
    name = ""

    def __init__(self, spark, rec: Recorder, seed: int, sizes: dict,
                 root: str):
        self.spark, self.rec, self.seed, self.sizes = spark, rec, seed, sizes
        self.root = root
        self.input_bytes = 0       # Arrow bytes handed to the engine
        self.table: DeltaTable | None = None   # the workload's main table
        self.predicates: list[str] = []        # read predicates of a round

    def generate(self) -> None:
        """Build the up-front inputs (counted in set-up time)."""

    def prepare(self) -> None:
        """Load what the rounds work on; timed, but outside the roles."""

    def round(self, index: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Compact the main table and check nothing changed."""
        n = self.table.count()
        with self.rec.op("optimize", ""):
            self.table = self.table.optimize()
        self.rec.check(self.table.count() == n, "optimize changed rows")

    def release(self) -> None:
        """Unpersist whatever the workload cached."""

    def tables(self) -> list[DeltaTable]:
        """Current handles of every table the workload writes; the first
        is the one the log probes load."""
        return [self.table]

    def ingest_rows_per_s(self, first_span: int) -> float:
        """Rows one ingest operation takes in, over its median latency."""
        raise NotImplementedError

    def info(self, first_span: int) -> dict[str, float]:
        """Per-operation figures of the measured rounds, printed for
        reading; ``first_span`` is the first span after the warm-up
        round."""
        return {}

    # -- traced-run probes: direct calls into the log and plans layers ----

    def probe(self, index: int) -> None:
        t = self.tables()[0]
        log_loc = t.log_location
        with self.rec.op("log.load_head", "probe", layer="log"):
            log = DeltaLog.load(log_loc)
        self.rec.check(log.version == t.version, "DeltaLog.load head")
        pin = gen.pinned_version(self.seed, 10_000 + index, t.version)
        with self.rec.op("log.load_pinned", "probe", layer="log"):
            log = DeltaLog.load(log_loc, version=pin)
        self.rec.check(log.version == pin, "DeltaLog.load pinned")
        t = self.table
        types = {f.name: f.dataType.simpleString() for f in t.schema.fields
                 if f.name in t.partition_columns}
        for pred in self.predicates:
            with self.rec.op("plans.prune", "probe", layer="plans") as s:
                kept = prune_manifest(t.adds, pred, t.partition_columns,
                                      types)
            s.info.update(kept=len(kept), total=len(t.adds))

    @staticmethod
    def _on_checkpoint(t: DeltaTable) -> bool:
        """Whether the commit that produced ``t`` also wrote a checkpoint."""
        return os.path.exists(os.path.join(
            t.log_location.path, f"{t.version:020d}.checkpoint.parquet"))

    def _path(self, name: str) -> str:
        return os.path.join(self.root, f"{self.name}_{name}")

    def _input_file(self, name: str, table) -> str:
        """Write a generated input as a parquet file outside the tables."""
        d = self.root + "_inputs"
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(table, path)
        return path


class TableMix(Workload):
    """Two tables. An event stream partitioned by day takes small
    micro-batch appends and is read by head and time-travel opens. A fact
    table partitioned by region is bulk-loaded once, then takes the four
    DML statements, each followed by a point, full-aggregate, range or
    new-rows scan that checks it."""

    name = "table_mix"

    def generate(self) -> None:
        fact, self.model = gen.fact_table(self.seed, self.sizes["fact_rows"])
        self.fact_bytes = fact.nbytes
        self.fact_file = self._input_file("fact", fact)

    def prepare(self) -> None:
        rows = self.sizes["fact_rows"]
        self.input_bytes += self.fact_bytes
        with self.rec.op("bulk_write", ""):
            t = DeltaTable(self.spark, self._path("fact")).write(
                self.fact_file, partition_by=["region"],
                max_records_per_file=max(rows // 32, 1))
        self.rec.check(t.count() == rows, "bulk write row count")
        self.table = t
        self.next_id = rows
        self.stream = DeltaTable(self.spark, self._path("stream"))
        self.stream_rows = {-1: 0}          # version -> live rows
        self.next_batch = 0

    def tables(self) -> list[DeltaTable]:
        return [self.stream, self.table]

    def _append(self) -> None:
        rows, b = self.sizes["batch_rows"], self.next_batch
        batch = gen.stream_batch(self.seed, b, rows)
        self.input_bytes += batch.nbytes
        with self.rec.op("append", "write") as s:
            self.stream = self.stream.write(batch, partition_by=["day"])
        v = self.stream.version
        s.info["ckpt"] = self._on_checkpoint(self.stream)
        self.stream_rows[v] = self.stream_rows[v - 1] + rows
        self.next_batch += 1
        self.rec.check(v == b and self.stream.count() == self.stream_rows[v],
                       f"append {b}: v{v} {self.stream.count()} rows")

    def _commit(self, kind: str, fn, apply) -> None:
        """Run one DML statement on the fact table, apply it to the
        model, and compare version and row count."""
        want_version = self.table.version + 1
        with self.rec.op(kind, "write") as s:
            self.table = fn(self.table)
        s.info["ckpt"] = self._on_checkpoint(self.table)
        apply()
        n = len(self.model.id)
        self.rec.check(self.table.version == want_version
                       and self.table.count() == n,
                       f"{kind}: v{self.table.version} {self.table.count()}"
                       f" rows, want v{want_version} {n}")

    def _scan(self, kind: str, pred: str, mask: np.ndarray) -> None:
        with self.rec.op(kind, "read"):
            row = self.table.to_df(where=pred).agg(
                F.count(F.lit(1)), F.sum("qty")).collect()[0]
        self.predicates.append(pred)
        want = (int(mask.sum()), int(self.model.qty[mask].sum()))
        got = (row[0], row[1] or 0)
        self.rec.check(got == want, f"{kind} [{pred}]: {got} != {want}")

    def round(self, index: int) -> None:
        m = self.model
        self.predicates = []
        for _ in range(self.sizes["appends_per_round"]):
            self._append()
        loc, head = self.stream.location.path, self.stream.version
        for j in range(self.sizes["reads_per_round"]):
            # a reader opens the head and scans the newest batch
            with self.rec.op("read_head", "read"):
                with self.rec.span("open_head"):
                    h = DeltaTable(self.spark, loc)
                with self.rec.span("tail_scan"):
                    n = h.to_df(where=f"batch = {head}").count()
            self.rec.check(h.version == head
                           and n == self.sizes["batch_rows"],
                           f"read_head v{h.version}: {n} rows")
            # a reader opens an older version and scans its newest batch
            pin = gen.pinned_version(self.seed, index * 100 + j, head)
            with self.rec.op("read_pinned", "read"):
                with self.rec.span("open_pinned"):
                    h = DeltaTable(self.spark, loc, version=pin)
                with self.rec.span("tail_scan"):
                    n = h.to_df(where=f"batch = {pin}").count()
            self.rec.check(h.version == pin
                           and n == self.sizes["batch_rows"]
                           and h.count() == self.stream_rows[pin],
                           f"read_pinned v{pin}: {n} rows")

        # each DML statement is followed by a scan that checks it
        r = gen.dml_round(self.seed, index, self.sizes["fact_rows"],
                          self.sizes["merge_rows"], self.next_id)
        pred = f"id BETWEEN {r.cow_lo} AND {r.cow_hi}"
        hit = m.mask(r.cow_lo, r.cow_hi)
        self._commit("delete_cow",
                     lambda t: t.delete(pred, mode="copy-on-write"),
                     lambda: m.keep(~hit))
        self._scan("scan_point", f"id = {r.point_id}", m.id == r.point_id)

        hit = m.mask(cohort=r.dv_cohort)
        self._commit("delete_dv", lambda t: t.delete(
            f"cust % {gen.DV_COHORTS} = {r.dv_cohort}", mode="merge-on-read"),
            lambda: m.keep(~hit))
        with self.rec.op("scan_full", "read"):
            totals = (self.table.to_df().groupBy("region")
                      .agg(F.count(F.lit(1)), F.sum("qty")).collect())
        got = {x[0]: (x[1], x[2]) for x in totals}
        self.rec.check(got == m.region_totals(), "scan_full totals")

        pred = (f"region = {r.upd_region} AND id BETWEEN {r.upd_lo} "
                f"AND {r.upd_hi}")
        hit = m.mask(r.upd_lo, r.upd_hi, region=r.upd_region)
        self._commit("update",
                     lambda t: t.update({"qty": "qty + 1"}, where=pred),
                     lambda: np.add.at(m.qty, np.flatnonzero(hit), 1))
        self._scan("scan_range", pred, hit)

        src = r.merge_source
        self.input_bytes += src.nbytes
        self._commit("merge", lambda t: t.merge(
            src, "t.id = s.id",
            when_matched_update={"qty": "s.qty"},
            when_not_matched_insert={c: f"s.{c}" for c in src.column_names}),
            lambda: gen.apply_merge(m, src))
        first_new = self.next_id
        self.next_id += int((src["id"].to_numpy() >= first_new).sum())
        self._scan("scan_tail", f"id >= {first_new}", m.id >= first_new)

    def finish(self) -> None:
        super().finish()
        n = self.stream.count()
        with self.rec.op("optimize", ""):
            self.stream = self.stream.optimize()
        self.rec.check(self.stream.count() == n, "optimize changed rows")

    def ingest_rows_per_s(self, first_span: int) -> float:
        ms = self.rec.durations("append", first_span)
        return self.sizes["batch_rows"] / p50(ms) * 1000

    def info(self, first_span: int) -> dict[str, float]:
        def d(name: str) -> list[float]:
            return self.rec.durations(name, first_span)
        pct, tail_ms = tail(d("append"))
        return {"append_p50_ms": p50(d("append")),
                "append_tail_ms": tail_ms,
                "append_tail_percentile": pct,
                "snapshot_open_p50_ms": p50(d("open_head")),
                "time_travel_open_p50_ms": p50(d("open_pinned")),
                "bulk_write_rows_per_s": self.sizes["fact_rows"]
                / (self.rec.durations("bulk_write")[0] / 1000),
                "scan_selective_p50_ms": p50(d("scan_point")
                                             + d("scan_range")
                                             + d("scan_tail")),
                "scan_full_p50_ms": p50(d("scan_full")),
                "delete_cow_p50_ms": p50(d("delete_cow")),
                "delete_dv_p50_ms": p50(d("delete_dv")),
                "update_p50_ms": p50(d("update")),
                "merge_p50_ms": p50(d("merge")),
                "optimize_ms": p50(d("optimize"))}


class LlmDedupPipeline(Workload):
    """Per round: normalize, exact dedup, minhash near-dup pairs and
    keeper selection over a fresh seeded corpus batch, keepers appended
    to a Delta table; then exact cosine top-k queries over a vector
    table."""

    name = "llm_dedup_pipeline"

    def generate(self) -> None:
        self.vecs = gen.vectors(self.seed, self.sizes["vectors"])
        vt = gen.vector_table(self.vecs)
        self.vec_bytes = vt.nbytes
        self.vec_file = self._input_file("vectors", vt)

    def prepare(self) -> None:
        self.input_bytes += self.vec_bytes
        with self.rec.op("write_vectors", ""):
            vt = DeltaTable(self.spark, self._path("vectors")).write(
                self.vec_file)
        self.vdf = vt.to_df().persist()
        self.rec.check(self.vdf.count() == len(self.vecs), "vector count")
        self.table = DeltaTable(self.spark, self._path("keepers"))
        self.kept_total = 0
        self.planted = self.found = 0

    def round(self, index: int) -> None:
        rec, docs = self.rec, self.sizes["docs_per_batch"]
        cb = gen.corpus_batch(self.seed, index, docs)
        self.input_bytes += cb.table.nbytes
        cached = []
        try:
            with rec.op("dedup", "write") as op:
                df = self.spark.createDataFrame(cb.table)
                with rec.span("normalize", layer="operators"):
                    norm = normalize_text(df).persist()
                    cached.append(norm)
                    norm.count()
                with rec.span("exact_dedup", layer="operators"):
                    ex = exact_dedup(norm, text_col="norm_text").persist()
                    cached.append(ex)
                    n_exact = ex.count()
                with rec.span("minhash_pairs", layer="operators"):
                    pairs = minhash_lsh_pairs(
                        ex, text_col="norm_text").persist()
                    cached.append(pairs)
                    found = {(min(a, b), max(a, b)) for a, b in
                             pairs.select("id_a", "id_b").collect()}
                with rec.span("keepers", layer="operators"):
                    keep = dedup_keepers_from_pairs(ex, pairs).select(
                        "doc_id", "text").persist()
                    cached.append(keep)
                    n_keep = keep.count()
                with rec.span("write_keepers"):
                    self.table = self.table.write(keep)
        finally:
            for df in cached:
                df.unpersist()
        op.info["ckpt"] = self._on_checkpoint(self.table)
        self.kept_total += cb.n_keepers
        self.planted += len(cb.near_pairs)
        self.found += len(found)
        self.predicates = [f"doc_id >= {index * docs}"]
        rec.check(n_exact == cb.n_unique,
                  f"exact dedup kept {n_exact} != {cb.n_unique}")
        missed = cb.near_pairs - found
        rec.check(not missed, f"{len(missed)} planted near-dup pairs missed")
        rec.check(n_keep == cb.n_keepers,
                  f"keepers {n_keep} != {cb.n_keepers}")
        rec.check(self.table.count() == self.kept_total, "keeper table rows")

        k = self.sizes["k"]
        for q in range(self.sizes["queries_per_round"]):
            qv = gen.query_vector(self.seed, index * 1000 + q, self.vecs)
            with rec.op("topk", "read"):
                res = brute_force_topk(self.vdf, qv.tolist(), k=k).collect()
            ids, scores = gen.topk_oracle(self.vecs, qv, k)
            rec.check([r[0] for r in res] == ids and np.allclose(
                [r[1] for r in res], scores, rtol=0, atol=1e-6),
                f"topk query {index}/{q}")

    def release(self) -> None:
        vdf = getattr(self, "vdf", None)
        if vdf is not None:
            vdf.unpersist()

    def ingest_rows_per_s(self, first_span: int) -> float:
        ms = self.rec.durations("dedup", first_span)
        return self.sizes["docs_per_batch"] / p50(ms) * 1000

    def info(self, first_span: int) -> dict[str, float]:
        return {"dedup_docs_per_s": self.ingest_rows_per_s(first_span),
                "topk_p50_ms": p50(self.rec.durations("topk", first_span))}


WORKLOADS = {w.name: w for w in (TableMix, LlmDedupPipeline)}
