"""The four benchmark workloads.

Each workload generates its input from the seed, runs one job through the
program's public entry point (reading the input table and committing the
output as parquet), verifies the output in full against an independent
oracle, digests an output cheaply for the per-run check, and knows how to
trace its layers.  Why each one exists is in ``NOTES.md``.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracles, rawtext
from perfbench.harness import cores, dir_bytes
from perfbench.tracing import ActionHooks, tagged

ORG_ROOT = "9.9.9.9.9"
SALT = "perfbench"
N_BUCKETS = 16
MEDIA_MARGIN = 8  # the reference's 300 px margin is sized for mammograms; 8 px keeps boxes partial on 96x96 payloads
SEQ_LEN = 2048
WARM_ROWS = 64


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _arrow_schema(spark_schema):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _write_rows(rows: list[dict], schema: pa.Schema, path: str, n_files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    step = max(1, -(-table.num_rows // n_files))
    for i, start in enumerate(range(0, max(table.num_rows, 1), step)):
        pq.write_table(table.slice(start, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="zstd")


def read_docs(path: str) -> list[dict]:
    """(doc_id, spans) rows from parquet, spans as dicts.  Converts column
    by column through numpy: pyarrow's to_pylist is ~10x slower."""
    table = pq.read_table(path, columns=["doc_id", "spans"])
    ids = table.column("doc_id").to_numpy().tolist()
    spans = table.column("spans").combine_chunks()
    offsets = spans.offsets.to_numpy().tolist()
    flat = spans.flatten()
    fields = {k: flat.field(k).to_numpy(zero_copy_only=False).tolist()
              for k in ("kind", "text", "media_ref", "offset")}
    rows = [dict(zip(fields, vals)) for vals in zip(*fields.values())]
    return [{"doc_id": d, "spans": rows[offsets[i]:offsets[i + 1]]} for i, d in enumerate(ids)]


def _digest(path: str) -> tuple:
    """Order-independent content digest of a parquet directory: row count
    and the sum of DuckDB's 64-bit hash of every row (hive partition
    columns included).  Cheap (no Spark job), run outside the timed window."""
    import duckdb

    con = duckdb.connect()
    try:
        n, h = con.execute(
            "SELECT count(*), sum(hash(t)::HUGEINT) FROM "
            "read_parquet(?, hive_partitioning = true) t",
            [os.path.join(path, "**", "*.parquet")],
        ).fetchone()
    finally:
        con.close()
    return (int(n), str(h))


class Workload:
    name = ""
    size = 0
    rows_label = "documents"
    # a typical job's wall, warm-up jobs included, on a 4-core host when
    # the benchmark was defined; only turns --seconds into a fixed job count
    nominal_s = 1.0

    def generate(self, spark, seed: int, path: str) -> None:
        raise NotImplementedError

    def generate_warm(self, seed: int, path: str) -> None:
        raise NotImplementedError

    def n_rows(self, in_path: str) -> int:
        raise NotImplementedError

    def input_bytes(self, in_path: str) -> int:
        return dir_bytes(in_path) - os.path.getsize(os.path.join(in_path, "marker.json")) \
            - self._truth_bytes(in_path)

    def _truth_bytes(self, in_path: str) -> int:
        truth = os.path.join(in_path, "truth")
        return dir_bytes(truth) if os.path.isdir(truth) else 0

    def run(self, spark, in_path: str, out_dir: str):
        raise NotImplementedError

    def verify(self, spark, seed: int, in_path: str, out_dir: str, result) -> tuple[list[str], dict]:
        raise NotImplementedError

    def digest(self, out_dir: str, result) -> tuple:
        raise NotImplementedError

    def trace(self, spark, tracer, in_path: str, out_dir: str, info: dict):
        """One traced iteration: each layer forced alone inside a span named
        after it, then the end-to-end job inside span ``e2e`` with every
        Spark action as a child span.  ``info["verify"]`` holds the counts
        the full verification produced.  Returns (job result, e2e span,
        layer metrics that the spans and event log do not give, names of
        the layer spans)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------

class DeidSpans(Workload):
    """Metadata axis: synth_documents -> lineage.run_deid_job (salted
    shuffle, bucket commit)."""

    name = "deid_spans"
    size = 3000
    nominal_s = 2.25

    def generate(self, spark, seed, path):
        from deidcm_spark.corpus import synth_documents

        synth_documents(spark, self.size, seed=seed, media_rate=0.1, skew=0.02,
                        num_partitions=cores()).write.parquet(os.path.join(path, "docs"))

    def generate_warm(self, seed, path):
        from deidcm_spark.corpus import doc_spans
        from deidcm_spark.schema import DOCUMENTS_SCHEMA

        rows = [{"doc_id": f"1.2.840.{seed}.{i}", "spans": doc_spans(i, seed, 40, 0.1, False)}
                for i in range(WARM_ROWS)]
        _write_rows(rows, _arrow_schema(DOCUMENTS_SCHEMA), os.path.join(path, "docs"), cores())

    def n_rows(self, in_path):
        return pq.read_table(os.path.join(in_path, "docs"), columns=["doc_id"]).num_rows

    def run(self, spark, in_path, out_dir):
        from deidcm_spark import lineage

        docs = spark.read.parquet(os.path.join(in_path, "docs"))
        summary = lineage.run_deid_job(spark, docs, out_dir, ORG_ROOT, salt=SALT,
                                       n_buckets=N_BUCKETS, run_id="bench")
        if summary["processed"] != N_BUCKETS:
            raise RuntimeError(f"run_deid_job committed {summary['processed']} of {N_BUCKETS} buckets")
        return summary

    def verify(self, spark, seed, in_path, out_dir, result):
        inputs = read_docs(os.path.join(in_path, "docs"))
        outputs = read_docs(os.path.join(out_dir, "data"))
        problems = oracles.verify_deid(inputs, outputs, ORG_ROOT, SALT)
        lin = pq.read_table(os.path.join(out_dir, "_lineage")).to_pylist()
        if sorted(r["bucket"] for r in lin) != list(range(N_BUCKETS)):
            problems.append("lineage does not hold one committed row per bucket")
        if sum(r["n_docs"] for r in lin) != len(inputs):
            problems.append("lineage document total differs from the input")
        return problems, {}

    def digest(self, out_dir, result):
        return (_digest(os.path.join(out_dir, "data")),
                _digest(os.path.join(out_dir, "_lineage")))

    def trace(self, spark, tracer, in_path, out_dir, info):
        from deidcm_spark.operators.deidentify import deidentify_attributes

        with tagged(spark, tracer, "deidentify") as alone:
            docs = spark.read.parquet(os.path.join(in_path, "docs"))
            _noop(deidentify_attributes(docs, ORG_ROOT, SALT, with_metrics=True))
        with tagged(spark, tracer, "e2e") as e2e:
            with ActionHooks(tracer, spark, "e2e"):
                result = self.run(spark, in_path, out_dir)
        lin = pq.read_table(os.path.join(out_dir, "_lineage")).to_pylist()
        busy = alone["end"] - alone["start"]
        spans_in = sum(r["n_spans_in"] for r in lin)
        return result, e2e, {
            "deidentify.busy_s": busy,
            "deidentify.spans_in": spans_in,
            "deidentify.spans_out": sum(r["n_spans_out"] for r in lin),
            "deidentify.pseudonymized": sum(r["n_pseudonymized"] for r in lin),
            "deidentify.spans_per_s": spans_in / busy,
            "lineage.overhead_s": (e2e["end"] - e2e["start"]) - busy,
        }, ["deidentify"]


class RedactPixels(Workload):
    """Pixel axis: synth_media payloads + OCR boxes -> media.redact_media."""

    name = "redact_pixels"
    size = 30000
    nominal_s = 2.5
    rows_label = "images"

    def generate(self, spark, seed, path):
        from deidcm_spark.corpus import synth_media

        payloads, boxes = synth_media(spark, self.size, seed=seed, media_rate=1.0,
                                      num_partitions=cores())
        payloads.write.parquet(os.path.join(path, "payloads"))
        boxes.write.parquet(os.path.join(path, "boxes"))

    def generate_warm(self, seed, path):
        from deidcm_spark.corpus import media_ground_truth
        from deidcm_spark.schema import MEDIA_PAYLOADS_SCHEMA, OCR_BOXES_SCHEMA

        pairs = [media_ground_truth(i, seed) for i in range(WARM_ROWS)]
        _write_rows([p for p, _ in pairs], _arrow_schema(MEDIA_PAYLOADS_SCHEMA),
                    os.path.join(path, "payloads"), cores())
        _write_rows([b for _, bs in pairs for b in bs], _arrow_schema(OCR_BOXES_SCHEMA),
                    os.path.join(path, "boxes"))

    def n_rows(self, in_path):
        return pq.read_table(os.path.join(in_path, "payloads"), columns=["media_ref"]).num_rows

    def run(self, spark, in_path, out_dir):
        from deidcm_spark.operators import media

        payloads = spark.read.parquet(os.path.join(in_path, "payloads"))
        boxes = spark.read.parquet(os.path.join(in_path, "boxes"))
        media.redact_media(payloads, boxes, margin=MEDIA_MARGIN).write.parquet(
            os.path.join(out_dir, "data"))
        return None

    def _rows(self, out_dir):
        table = pq.read_table(os.path.join(out_dir, "data"),
                              columns=["media_ref", "width", "height", "pixels"])
        for batch in table.to_batches(max_chunksize=2048):
            yield from zip(*(batch.column(i).to_pylist() for i in range(4)))

    def verify(self, spark, seed, in_path, out_dir, result):
        n = self.n_rows(in_path)
        problems, counts = oracles.verify_pixels(self._rows(out_dir), seed, n, MEDIA_MARGIN)
        return problems, counts

    def digest(self, out_dir, result):
        return _digest(os.path.join(out_dir, "data"))

    def trace(self, spark, tracer, in_path, out_dir, info):
        from deidcm_spark.operators import media

        with tagged(spark, tracer, "media"):
            payloads = spark.read.parquet(os.path.join(in_path, "payloads"))
            boxes = spark.read.parquet(os.path.join(in_path, "boxes"))
            _noop(media.redact_media(payloads, boxes, margin=MEDIA_MARGIN))
        with tagged(spark, tracer, "e2e") as e2e:
            with ActionHooks(tracer, spark, "e2e"):
                result = self.run(spark, in_path, out_dir)
        counts = info.get("verify", {})
        return result, e2e, {
            "media.images": self.n_rows(in_path),
            "media.boxes": counts.get("boxes", 0),
            "media.boxes_painted_ratio": counts.get("painted", 0) / max(counts.get("boxes", 0), 1),
        }, ["media"]


class _RawCorpus(Workload):
    def generate(self, spark, seed, path):
        self._write_raw(seed, self.size, path)

    def generate_warm(self, seed, path):
        self._write_raw(seed, WARM_ROWS * 4, path)

    @staticmethod
    def _write_raw(seed, n, path):
        rows, uids = rawtext.generate(seed, n)
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string())])
        _write_rows(rows, schema, os.path.join(path, "raw"), n_files=cores())
        _write_rows([{"doc_id": k, "uid": v} for k, v in uids.items()],
                    pa.schema([("doc_id", pa.int64()), ("uid", pa.string())]),
                    os.path.join(path, "truth"))

    def n_rows(self, in_path):
        return pq.read_table(os.path.join(in_path, "raw"), columns=["doc_id"]).num_rows

    def _raw_rows(self, in_path):
        return pq.read_table(os.path.join(in_path, "raw")).to_pylist()


class WebExtract(_RawCorpus):
    """North-rule extraction lane: raw documents -> pipeline.scrub_extract."""

    name = "web_extract"
    size = 12000
    nominal_s = 3.0

    def run(self, spark, in_path, out_dir):
        from deidcm_spark import pipeline

        raw = spark.read.parquet(os.path.join(in_path, "raw"))
        pipeline.scrub_extract(raw, ORG_ROOT, rawtext.PHI_NAMES).write.parquet(
            os.path.join(out_dir, "data"))
        return None

    def verify(self, spark, seed, in_path, out_dir, result):
        raw = self._raw_rows(in_path)
        truth = pq.read_table(os.path.join(in_path, "truth")).to_pylist()
        outputs = read_docs(os.path.join(out_dir, "data"))
        return oracles.verify_web(raw, {r["doc_id"]: r["uid"] for r in truth}, outputs,
                                  ORG_ROOT, rawtext.PHI_NAMES)

    def digest(self, out_dir, result):
        return _digest(os.path.join(out_dir, "data"))

    def trace(self, spark, tracer, in_path, out_dir, info):
        from deidcm_spark.operators import extract, scrub

        scrubbed = os.path.join(out_dir, "_scrubbed")
        with tagged(spark, tracer, "scrub"):
            raw = spark.read.parquet(os.path.join(in_path, "raw"))
            scrub.scrub_documents(raw, ORG_ROOT, rawtext.PHI_NAMES).write.parquet(scrubbed)
        with tagged(spark, tracer, "extract"):
            _noop(extract.extract_main_content(extract.with_html(spark.read.parquet(scrubbed))))
        shutil.rmtree(scrubbed)
        with tagged(spark, tracer, "e2e") as e2e:
            with ActionHooks(tracer, spark, "e2e"):
                result = self.run(spark, in_path, out_dir)
        counts = info.get("verify", {})
        n = self.n_rows(in_path)
        return result, e2e, {
            "scrub.docs_changed_ratio": counts.get("docs_changed", 0) / n,
            "extract.spans_out": counts.get("spans_out", 0),
        }, ["scrub", "extract"]


# the curate stage directory each layer's output is committed to
CURATE_STAGES = {
    "normalized": "textops.normalize_s",
    "gated": "textops.quality_gate_s",
    "line_deduped": "spandedup.line_dedup_s",
    "deduped": "dedup.dedup_exact_s",
    "sequences": "textops.pack_sequences_s",
}


class Curate(_RawCorpus):
    """Training-data flow: raw documents -> pipeline.curate (five stage
    barriers)."""

    name = "curate"
    size = 2000
    nominal_s = 4.5

    def run(self, spark, in_path, out_dir):
        from deidcm_spark import pipeline

        docs = spark.read.parquet(os.path.join(in_path, "raw"))
        return pipeline.curate(spark, docs, out_dir, seq_len=SEQ_LEN)

    def verify(self, spark, seed, in_path, out_dir, result):
        expected = oracles.curate_expected(self._raw_rows(in_path), SEQ_LEN)
        final = pq.read_table(os.path.join(out_dir, "deduped"), columns=["doc_id", "text"]).to_pylist()
        seq = pq.read_table(os.path.join(out_dir, "sequences")).to_pylist()
        pieces = [(r["doc_id"], r["n_tokens"], r["seq_id"], r["seq_start"], r["doc_start"],
                   r["piece_tokens"]) for r in seq]
        return oracles.verify_curate(expected, result, final, pieces), {}

    def digest(self, out_dir, result):
        return (tuple(sorted(result.items())),
                _digest(os.path.join(out_dir, "deduped")),
                _digest(os.path.join(out_dir, "sequences")))

    def trace(self, spark, tracer, in_path, out_dir, info):
        # pipeline.curate forces each stage with its own parquet write, so
        # the action hooks give one span per stage without re-running it
        with tagged(spark, tracer, "e2e") as e2e:
            with ActionHooks(tracer, spark, "e2e"):
                result = self.run(spark, in_path, out_dir)
        return result, e2e, {
            "curate.keep_ratio": result["docs_after_dedup"] / result["docs_in"],
            "curate.stage_bytes_written": dir_bytes(out_dir),
        }, []


WORKLOADS = {w.name: w for w in (DeidSpans(), RedactPixels(), WebExtract(), Curate())}
