"""The three seeded workloads. Each one generates its input from the seed
with the repo's own generators (or, for the wide schema, the generator in
``wide.py``), runs one validation job through the public operators, and
knows the job's expected output from the seed alone.

Functions that Spark ships to Python workers are defined inside methods so
that cloudpickle sends them by value: the workers import the repo, not the
benchmark's directory.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import random
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from jsonschema_spark.operators.validate import ValidationResult, validate
from jsonschema_spark.plans.compile import (
    CompileOptions,
    compile_schema,
    inline_refs,
    lower_dynamic_refs,
    resolve_dynamic_refs_post_inline,
)
from jsonschema_spark.schema import Schema

import wide


def source_hash(*modules) -> str:
    h = hashlib.sha256()
    for m in modules:
        h.update(inspect.getsource(m).encode())
    return h.hexdigest()[:12]


def traced_validate(tr, df, schema_value, options: CompileOptions) -> ValidationResult:
    """``operators.validate`` split into its public calls, in its order,
    each timed as its layer. The ref passes are timed on their own first;
    ``compile_schema`` then repeats them, which the trace overhead shows."""
    with tr.span("schema.parse_s"):
        schema = Schema.from_value(schema_value)
    with tr.span("plans.refs_s"):
        lowered = lower_dynamic_refs(schema, strict=options.strict)
        inlined = inline_refs(lowered, None, max_depth=options.max_ref_depth)
        resolve_dynamic_refs_post_inline(
            inlined, strict=options.strict, max_depth=options.max_ref_depth)
    with tr.span("plans.compile_s"):
        compiled = compile_schema(schema, df.schema, options)
    tr.count("plans.checks", len(compiled.checks))
    with tr.span("plans.violations_array_s"):
        varr = compiled.violations_array()
    with tr.span("spark.analyze_s"):
        annotated = df.withColumn("_violations", varr).withColumn(
            "_valid", F.size("_violations") == 0)
    return ValidationResult(annotated=annotated, compiled=compiled)


def _totals_row(rows) -> dict:
    return {k: int(v) for k, v in rows[0].asDict().items()}


def traced_totals(tr, result: ValidationResult) -> dict:
    with tr.span("spark.analyze_s"):
        totals = result.totals()
    with tr.span("spark.plan_s"):
        totals._jdf.queryExecution().executedPlan()
    with tr.span("spark.exec_s"):
        return _totals_row(totals.collect())


class Workload:
    name = ""
    rows = 0  # input rows one job validates
    # untimed jobs before the loop: the first jobs of a fresh JVM run
    # slower while it compiles the job's generated code
    warmup_jobs = 2

    @staticmethod
    def violation_rows(result: dict) -> int:
        return result["violation_count"]

    def key(self) -> str:
        """Names the input by seed, size and generator source."""
        return f"{self.name}-seed{self.seed}-n{self.rows}-{self.source_hash()}"


class ClipsPayload(Workload):
    """Synthetic clips with audio payloads, validated by CLIPS_JSON_SCHEMA
    plus the audio/* decode-and-SNR content check, ending in totals()."""

    name = "clips_payload"
    rows = 8000
    warmup_jobs = 1  # its second job already runs within ~10% of the rest

    def __init__(self, seed: int):
        self.seed = seed
        self.start = random.Random(seed).randrange(0, 10**9)

    def source_hash(self) -> str:
        from jsonschema_spark.functions import audio
        from jsonschema_spark.sources import clips

        return source_hash(clips, audio, ClipsPayload)

    def generate(self, spark, path: str) -> None:
        from jsonschema_spark.sources.clips import CLIPS_SCHEMA, _gen_batch

        def gen(batches):
            for b in batches:
                yield _gen_batch(b["id"].to_numpy(), 200, 2000, True)

        # synth_clips' defaults (durations 200-2000 ms, planted violations,
        # its partitioning), over a seeded window of row indices
        parts = max(8, spark.sparkContext.defaultParallelism)
        (spark.range(self.start, self.start + self.rows, 1, parts)
         .mapInPandas(gen, schema=CLIPS_SCHEMA)
         .write.mode("overwrite").parquet(path))

    def expected(self) -> dict:
        """sources/clips.py plants, by row index: sr_hz enum (i%97==96),
        dur_ms bound (i%101==100), codec enum (i%103==102), empty
        transcript (i%107==106) and a corrupt payload failing the SNR
        check (i%109==108). Each breaks exactly one check. The generator
        applies the transcript-mismatch plant (i%211==210, which appends
        text) after the empty one, so a row with both is not empty."""
        i = np.arange(self.start, self.start + self.rows, dtype=np.int64)
        plants = [(i % m) == m - 1 for m in (97, 101, 103, 109)]
        plants.append(((i % 107) == 106) & ((i % 211) != 210))
        per_row = sum(p.astype(np.int64) for p in plants)
        failed = int(np.count_nonzero(per_row))
        return {"rows": self.rows, "passed": self.rows - failed,
                "failed": failed, "violation_count": int(per_row.sum())}

    @staticmethod
    def _options() -> CompileOptions:
        from jsonschema_spark.functions.audio import audio_snr_ok

        return CompileOptions(content_checks={"audio/*": lambda col: audio_snr_ok()})

    def job(self, spark, path: str) -> dict:
        from jsonschema_spark.sources.clips import CLIPS_JSON_SCHEMA

        res = validate(spark.read.parquet(path), CLIPS_JSON_SCHEMA, self._options())
        return _totals_row(res.totals().collect())

    def traced_job(self, spark, path: str, tr) -> dict:
        from jsonschema_spark.sources.clips import CLIPS_JSON_SCHEMA

        with tr.span("sources.read_s"):
            df = spark.read.parquet(path)
        res = traced_validate(tr, df, CLIPS_JSON_SCHEMA, self._options())
        return traced_totals(tr, res)

    def extras(self, spark, path: str, reps: int = 3) -> tuple[dict, bool]:
        """The boundary ladder and the in-process kernel rate.

        ladder.scan_s: the scan plus sum(length(bytes)); ladder.hop_s: the
        same through an identity pandas_udf, so the difference is the
        Arrow round trip. functions.kernel_rows_per_s: the SNR kernel on
        one thread, in this process, over the whole input as one batch."""
        import pyarrow.parquet as pq
        from pyspark.sql.functions import pandas_udf

        from jsonschema_spark.functions.audio import SNR_THRESHOLD_DB, decode_pcm_batch

        identity = pandas_udf(lambda s: s, "binary")
        rungs = {"ladder.scan_s": F.col("bytes"), "ladder.hop_s": identity("bytes")}
        times = {name: [] for name in rungs}
        sums = set()
        for _ in range(reps):
            for name, payload in rungs.items():
                # a fresh DataFrame each time: collecting one twice reuses
                # its finished AQE stages and skips the scan
                q = spark.read.parquet(path).agg(F.sum(F.length(payload)).alias("n"))
                t = time.perf_counter()
                sums.add(q.collect()[0]["n"])
                times[name].append(time.perf_counter() - t)
        batch = pq.read_table(path, columns=["bytes", "clip_id", "sr_hz", "dur_ms"]).to_pandas()
        t = time.perf_counter()
        snr = decode_pcm_batch(batch["bytes"], batch["clip_id"], batch["sr_hz"], batch["dur_ms"])
        kernel_s = time.perf_counter() - t
        failing = int((~(snr >= SNR_THRESHOLD_DB)).sum())
        # the SNR check fails exactly the planted corrupt payloads
        i = np.arange(self.start, self.start + self.rows)
        ok = len(sums) == 1 and failing == int(((i % 109) == 108).sum())
        out = {name: statistics.median(ts) for name, ts in times.items()}
        out["functions.kernel_rows_per_s"] = len(batch) / kernel_s
        return out, ok


# sources/jsonl.py plants one class per i % 13; the keyword each reports
_JSONL_CLASSES = {3: "required", 4: "pattern", 5: "maximum", 6: "minLength",
                  7: "maxItems", 8: "type", 9: "parse", 10: "uniqueItems",
                  11: "items", 12: "type"}


class JsonlViolations(Workload):
    """JSONL lines through read_jsonl to VARIANT, keyword-path violation
    rows plus /parse failures, written to parquet and counted per
    keyword."""

    name = "jsonl_violations"
    rows = 60_000

    def __init__(self, seed: int):
        self.seed = seed
        self.start = random.Random(seed).randrange(0, 13 * 1000)

    def source_hash(self) -> str:
        from jsonschema_spark.sources import jsonl

        return source_hash(jsonl, JsonlViolations)

    def generate(self, spark, path: str) -> None:
        from jsonschema_spark.sources.jsonl import synth_jsonl_lines

        lines = synth_jsonl_lines(self.start + self.rows)[self.start:]
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "docs.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")

    def expected(self) -> dict:
        out: dict[str, int] = {}
        for i in range(self.start, self.start + self.rows):
            kw = _JSONL_CLASSES.get(i % 13)
            if kw:
                out[kw] = out.get(kw, 0) + 1
        return dict(sorted(out.items()))

    @staticmethod
    def _frame(spark, path: str):
        from jsonschema_spark.sources import jsonl as J

        raw = J.read_jsonl(spark, os.path.join(path, "docs.jsonl"))
        return raw, raw.select(J.doc_id_col().alias("doc_id"), "doc", "raw")

    @staticmethod
    def _rows(res: ValidationResult, raw):
        from jsonschema_spark.sources import jsonl as J

        return (res.violations(["doc_id"])
                .select("doc_id", "keyword_path", "keyword")
                .unionByName(J.parse_failures(raw, J.doc_id_col())))

    @staticmethod
    def _count(spark, out_path: str) -> dict:
        counts = spark.read.parquet(out_path).groupBy("keyword").count().collect()
        return dict(sorted((r["keyword"], int(r["count"])) for r in counts))

    def job(self, spark, path: str) -> dict:
        from jsonschema_spark.sources.jsonl import JSONL_DOC_SCHEMA

        raw, frame = self._frame(spark, path)
        rows = self._rows(validate(frame, JSONL_DOC_SCHEMA), raw)
        rows.write.mode("overwrite").parquet(path + "-violations")
        return self._count(spark, path + "-violations")

    def traced_job(self, spark, path: str, tr) -> dict:
        from jsonschema_spark.sources.jsonl import JSONL_DOC_SCHEMA

        with tr.span("sources.read_s"):
            raw, frame = self._frame(spark, path)
        res = traced_validate(tr, frame, JSONL_DOC_SCHEMA, CompileOptions())
        with tr.span("spark.analyze_s"):
            rows = self._rows(res, raw)
        with tr.span("spark.plan_s"):
            rows._jdf.queryExecution().executedPlan()
        with tr.span("spark.exec_s"):
            with tr.span("write.s"):
                rows.write.mode("overwrite").parquet(path + "-violations")
            return self._count(spark, path + "-violations")

    @staticmethod
    def violation_rows(result: dict) -> int:
        return sum(result.values())


class WideSchema(Workload):
    """A seeded schema of many properties ($defs/$ref, enum, pattern,
    bounds, not, additionalProperties:false) over a narrow table, ending
    in totals()."""

    name = "wide_schema"
    rows = 20_000
    props = 48

    def __init__(self, seed: int):
        self.seed = seed
        self.spec = wide.WideSpec(seed, self.props, self.rows)

    def key(self) -> str:
        return f"{super().key()}-p{self.props}"

    def source_hash(self) -> str:
        return source_hash(wide, WideSchema)

    def generate(self, spark, path: str) -> None:
        parts = spark.sparkContext.defaultParallelism
        self.spec.dataframe(spark, parts).write.mode("overwrite").parquet(path)

    def expected(self) -> dict:
        return self.spec.expected_totals()

    def job(self, spark, path: str) -> dict:
        res = validate(spark.read.parquet(path), self.spec.schema)
        return _totals_row(res.totals().collect())

    def traced_job(self, spark, path: str, tr) -> dict:
        with tr.span("sources.read_s"):
            df = spark.read.parquet(path)
        res = traced_validate(tr, df, self.spec.schema, CompileOptions())
        return traced_totals(tr, res)


WORKLOADS = {w.name: w for w in (ClipsPayload, JsonlViolations, WideSchema)}
