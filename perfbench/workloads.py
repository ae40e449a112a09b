"""The benchmark's workloads: how each builds its input, runs one pass
through the program's public functions, checks outputs, and splits a pass
into layers for the traced run.

Layers are timed from outside the program: each traced prefix composes
the same public calls ``plans.pipeline.quality_pipeline`` makes, one more
layer at a time, and a layer's self time is the difference between
adjacent prefixes.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import corpus
from metadata_quality_stack_spark.functions import langid, perplexity
from metadata_quality_stack_spark.functions.scrub import scrub_columns
from metadata_quality_stack_spark.operators.contamination import decontaminate
from metadata_quality_stack_spark.operators.dedup import fuzzy_dedup_keep
from metadata_quality_stack_spark.operators.rules import (
    apply_quality,
    filter_scored,
    final_scores,
    model_rule_percentages,
    scoring_stages,
)
from metadata_quality_stack_spark.operators.urlops import _h60_url, domain_of, normalize_url
from metadata_quality_stack_spark.plans.curate import curate, curation_recipe
from metadata_quality_stack_spark.plans.pipeline import (
    model_scores_udf,
    partition_metrics,
    quality_pipeline,
)
from metadata_quality_stack_spark.sources.pages import extract_text, extract_text_column
from metadata_quality_stack_spark.sources.sink import read_results, run_incremental

SCALE = float(os.environ.get("PERFBENCH_SCALE", "1"))  # < 1 only for the smoke test
CHECK_COLS = ["keep", "total_score", "rating", "drop_reasons", "scrubbed_text"]
SCRUB_COUNTS = ["scrub_count", "scrub_email_count", "scrub_ip_count", "scrub_phone_count"]
JOB_BUCKETS, JOB_SALTS = 64, 16  # job.py defaults
SINK_GROUP = "perfbench-sink"
WARM_PASSES = 1  # per set-up
TRACE_REPS = 2  # rounds of the traced prefix sweep


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def median_time(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return statistics.median(out)


# ------------------------------------------------------------ oracle check

def oracle_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
    """``oracle.scoring.score_pandas`` on one chunk (runs in a pool worker)."""
    from metadata_quality_stack_spark.oracle.scoring import score_pandas

    if "text" not in pdf.columns:
        pdf = pdf.assign(text=[extract_text(h) for h in pdf["html"]])
    out = score_pandas(pdf[["text", "lang"]])
    out.insert(0, "url", pdf["url"].to_numpy())
    return out


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Row mismatches (by url) between the program and the oracle."""
    a = spark_pdf.set_index("url").sort_index()
    b = oracle_pdf.set_index("url").sort_index()
    if not a.index.equals(b.index):
        return [f"url sets differ: {len(a)} program rows vs {len(b)} oracle rows"]
    bad = []
    for col in CHECK_COLS + SCRUB_COUNTS:
        x, y = a[col], b[col]
        if col == "drop_reasons":
            x, y = x.map(list), y.map(list)
        diff = [u for u, p, q in zip(a.index, x, y) if p != q]
        if diff:
            bad.append(f"{col}: {len(diff)} rows differ, e.g. {diff[0]}")
    return bad


# ------------------------------------------------------------ workloads

class FilterWorkload:
    """quality_pipeline -> noop over a pages corpus."""

    name = ""
    n_docs = 0
    has_html = False

    def make(self, seed: int) -> pd.DataFrame:
        raise NotImplementedError

    def pipeline(self, df: DataFrame) -> DataFrame:
        return quality_pipeline(df, id_cols=("url",), lang_col="lang")

    def run_pass(self, df: DataFrame) -> None:
        noop(self.pipeline(df))

    def program_rows(self, df: DataFrame) -> pd.DataFrame:
        return self.pipeline(df).select("url", *CHECK_COLS, *SCRUB_COUNTS).toPandas()

    # -- traced ledger --------------------------------------------------
    def prefixes(self, df: DataFrame) -> list[tuple[str, object]]:
        """Cumulative prefixes of quality_pipeline, one layer added each, as
        plan builders: a timed pass builds its plan and runs it, as callers
        of quality_pipeline do, so plan construction is charged to its
        layer. The crossing prefix swaps the model UDF for one that scores
        nothing; the model prefix replaces it, so the model's self time is
        its body alone."""
        def text():
            if not self.has_html:
                return df
            return df.withColumn("text", extract_text_column(F.col("html"))).drop("html")

        def model():
            return _with_model(text(), model_scores_udf())

        def stages():
            meta = {"lang": "lang", "source": None, "n_chars": None}
            return scoring_stages(model(), "text", meta, "webtext", extra_pcts=_model_pcts)

        def rollup():
            carry = ["url", "lang", "lang_pred", "lang_conf", "ppl", "text"]
            return final_scores(stages(), carry, "webtext")

        out = [("pages.scan_s", lambda: df)]
        if self.has_html:
            out.append(("pages.extract_s", text))
        return out + [
            ("pipeline.arrow_cross_s", lambda: _with_model(text(), _crossing_udf())),
            ("pipeline.model_udf_s", model),
            ("rules.stages_s", stages),
            ("rules.rollup_s", rollup),
            ("scrub.s", lambda: _scrub(rollup())),
        ]

    def ledger(self, spark, df, span, ctx: dict) -> tuple[dict, list[str]]:
        """Per-layer self times and the problems found; ``span(name)``
        records a trace span. ``ctx`` holds the run's ``seed``, ``work``
        dir and the checked ``rows`` and ``kept`` counts of ``df``."""
        # round-robin over the prefixes and the untraced full pass, so JIT
        # drift during the sweep spreads over all of them alike
        prefixes = self.prefixes(df)
        items = [*prefixes, ("trace.full_pass_s", lambda: self.pipeline(df))]
        times: dict[str, list[float]] = {name: [] for name, _ in items}
        for r in range(TRACE_REPS):
            for name, build in items:
                with span(f"{name}.{r}"):
                    t = time.perf_counter()
                    noop(build())
                    times[name].append(time.perf_counter() - t)
        layers = {"trace.full_pass_s": statistics.median(times["trace.full_pass_s"])}
        prev = 0.0
        for name, _ in prefixes:
            t = statistics.median(times[name])
            layers[name] = t - prev
            prev = t
        layers["trace.prefix_total_s"] = prev
        layers.update(udf_metrics(spark))  # of the last pass, a full pipeline pass
        layers["pipeline.plan_build_s"] = median_time(lambda: self.pipeline(df), 3)
        problems = _same_rows(prefixes[-1][1](), self.pipeline(df))
        return layers, problems


_UNITS = {"B": 1e-6, "KiB": 1024e-6, "MiB": 1024**2 * 1e-6, "GiB": 1024**3 * 1e-6,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UDF_METRICS = {
    "data sent to Python workers": "pipeline.arrow_mb",
    "time to start Python workers": "pipeline.worker_start_s",
    "time to initialize Python workers": "pipeline.worker_init_s",
    "time to run Python workers": "pipeline.worker_run_s",
}


def udf_metrics(spark) -> dict[str, float]:
    """Spark's own ArrowEvalPython readings for the latest SQL execution,
    totals over its tasks (MB sent to the UDF; task-seconds)."""
    store = spark._jsparkSession.sharedState().statusStore()
    runs = store.executionsList()
    eid = runs.apply(runs.size() - 1).executionId()
    values = store.executionMetrics(eid)
    out = dict.fromkeys(_UDF_METRICS.values(), 0.0)
    nodes = store.planGraph(eid).allNodes().iterator()
    while nodes.hasNext():
        node = nodes.next()
        if node.name() != "ArrowEvalPython":
            continue
        metrics = node.metrics().iterator()
        while metrics.hasNext():
            m = metrics.next()
            v = values.get(m.accumulatorId())
            if m.name() in _UDF_METRICS and v.isDefined():
                # "total (min, med, max ...)\n5.1 s (2.5 s, ...)" or "5.1 s"
                number, unit = v.get().splitlines()[-1].split()[:2]
                out[_UDF_METRICS[m.name()]] += float(number.replace(",", "")) * _UNITS[unit]
    return out


def _model_pcts(meta):
    return model_rule_percentages(
        meta["lang"], F.col("lang_pred"), F.col("lang_conf"), F.col("ppl")
    )


def _scrub(rolled: DataFrame) -> DataFrame:
    scrub = scrub_columns(F.col("text"))
    return rolled.select(
        *[F.col(c) for c in rolled.columns if c != "text"],
        *[scrub[c].alias(c) for c in SCRUB_COUNTS],
        scrub["scrubbed_text"].alias("scrubbed_text"),
    )


def _with_model(df: DataFrame, udf) -> DataFrame:
    """The model stage of quality_pipeline, with ``udf`` as the scorer."""
    return (
        df.withColumn("_m", udf(F.col("text")))
        .withColumn("lang_pred", F.col("_m.lang_pred"))
        .withColumn("lang_conf", F.col("_m.lang_conf"))
        .withColumn("ppl", F.col("_m.ppl"))
        .drop("_m")
        .select("url", "lang", "text", "lang_pred", "lang_conf", "ppl")
    )


def _crossing_udf():
    """Same input and output shape as model_scores_udf, no scoring: its
    cost is the Arrow crossing and the Python worker loop alone."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("lang_pred string, lang_conf double, ppl double")
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in it:
            n = len(texts)
            yield pd.DataFrame(
                {"lang_pred": ["en"] * n, "lang_conf": np.zeros(n), "ppl": np.zeros(n)}
            )

    return _udf


def _same_rows(a: DataFrame, b: DataFrame) -> list[str]:
    cols = ["url", *CHECK_COLS, *SCRUB_COUNTS, "lang_pred", "lang_conf", "ppl"]
    x = a.select(*cols).toPandas().sort_values("url").reset_index(drop=True)
    y = b.select(*cols).toPandas().sort_values("url").reset_index(drop=True)
    x["drop_reasons"] = x["drop_reasons"].map(list)
    y["drop_reasons"] = y["drop_reasons"].map(list)
    if x.equals(y):
        return []
    return ["traced prefix rows differ from quality_pipeline rows"]


class FilterShort(FilterWorkload):
    """Short docs; the traced run adds the job.py commit sequence on the
    same corpus (sink layers) and the 1-vs-all-cores scaling ratio."""

    name = "filter_short"
    n_docs = 4_000

    def make(self, seed):
        return corpus.short_docs(max(int(self.n_docs * SCALE), 40), seed)

    def ledger(self, spark, df, span, ctx):
        layers, problems = super().ledger(spark, df, span, ctx)
        with span("job_commit"):
            sink, bad = job_ledger(spark, df, ctx)
        layers.update(sink)
        return layers, problems + bad


class FilterLongHtml(FilterWorkload):
    """Long html-only docs; the traced run adds the curation layers on a
    planted-duplicate corpus (job.py --curate)."""

    name = "filter_long_html"
    n_docs = 80
    has_html = True

    def make(self, seed):
        return corpus.long_html_docs(max(int(self.n_docs * SCALE), 8), seed)

    def ledger(self, spark, df, span, ctx):
        layers, problems = super().ledger(spark, df, span, ctx)
        with span("curate"):
            cur, bad = curate_ledger(spark, ctx["seed"], ctx["work"])
        layers.update(cur)
        return layers, problems + bad


WORKLOADS = {w.name: w for w in (FilterShort(), FilterLongHtml())}


# ------------------------------------------------------------ job.py sequence

def job_pages(df: DataFrame) -> DataFrame:
    return df.withColumn("url_norm", normalize_url(F.col("url"))).withColumn(
        "content_h", _h60_url(F.col("text"))
    )


def job_transform(bucket_df: DataFrame) -> DataFrame:
    return quality_pipeline(
        bucket_df, id_cols=("url", "url_norm", "content_h"), lang_col="lang"
    )


def job_commit(spark, df: DataFrame, out: str) -> float:
    """job.py's default path: run_incremental, then the metrics sidecar.
    Returns the seconds spent after run_incremental (read-back + sidecar)."""
    run_incremental(spark, job_pages(df), out, job_transform, key_col="url_norm",
                    n_buckets=JOB_BUCKETS, n_salts=JOB_SALTS)
    t = time.perf_counter()
    results = read_results(spark, out)
    for name, m in partition_metrics(results).items():
        m.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "_metrics", name))
    return time.perf_counter() - t


def job_outputs(out: str) -> dict:
    """Manifest totals and the sidecar's docs_total of one job output dir."""
    with open(os.path.join(out, "_manifest.json")) as f:
        manifest = json.load(f)
    totals = pq.read_table(os.path.join(out, "_metrics", "scrub_totals")).to_pylist()[0]
    return {
        "rows": sum(e["rows"] for e in manifest.values()),
        "kept": sum(e["kept"] for e in manifest.values()),
        "docs_total": int(totals["docs_total"]),
        "manifest": {b: {k: v for k, v in e.items() if k != "wall_s"}
                     for b, e in manifest.items()},
    }


def job_ledger(spark, df, ctx) -> tuple[dict, list[str]]:
    """sink.* layers: job_commit wall minus the same pipeline into noop,
    one warm and one timed sequence; the timed one's output is checked."""
    sc = spark.sparkContext
    rows, kept = ctx["rows"], ctx["kept"]
    job_commit(spark, df, os.path.join(ctx["work"], "job-warm"))
    pipe = median_time(lambda: noop(job_transform(job_pages(df))), TRACE_REPS)
    out = os.path.join(ctx["work"], "job-0")
    sc.setJobGroup(SINK_GROUP, "job.py commit sequence")
    t = time.perf_counter()
    readback = job_commit(spark, df, out)
    wall = time.perf_counter() - t
    sc.setLocalProperty("spark.jobGroup.id", None)
    got = job_outputs(out)
    jobs = sc.statusTracker().getJobIdsForGroup(SINK_GROUP)
    files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
             if f.endswith(".parquet")]
    layers = {
        "sink.commit_s": wall - readback - pipe,
        "sink.readback_s": readback,
        "sink.spark_jobs": len(jobs),
        "sink.files_written": len(files),
        "sink.mb_written": sum(os.path.getsize(f) for f in files) / 1e6,
    }
    bad = []
    if (got["rows"], got["kept"], got["docs_total"]) != (rows, kept, rows):
        bad.append(f"job output rows/kept/docs_total {got['rows']}/{got['kept']}/"
                   f"{got['docs_total']}, want {rows}/{kept}/{rows}")
    return layers, bad


# ------------------------------------------------------------ curation

CURATE_N_DOCS = 600
CURATE_META = {"lang": "lang", "source": "source", "n_chars": "n_chars"}


def curate_source(df: DataFrame) -> DataFrame:
    """The recipe's input as job.py --curate builds it."""
    norm = normalize_url(F.col("url"))
    return df.select(
        _h60_url(norm).alias("doc_id"), "url", "text", "lang",
        domain_of(norm).alias("source"), F.length("text").cast("long").alias("n_chars"),
    )


def curate_ledger(spark, seed, work) -> tuple[dict, list[str]]:
    """curate.*, dedup.* and contamination.* layers (one warm pass each;
    the iterative fuzzy stage makes a recipe pass several seconds), and
    the recipe funnel."""
    pdf = corpus.curate_docs(max(int(CURATE_N_DOCS * SCALE), 60), seed)
    path = os.path.join(work, "curate-corpus")
    corpus.write_parquet(pdf, path)
    src = curate_source(spark.read.parquet(path))
    docs = src.drop("url")

    def exact():
        return curate(docs, meta_cols=CURATE_META)

    def fuzzy():
        return fuzzy_dedup_keep(docs.join(exact().select("doc_id"), "doc_id", "semi"))

    def recipe():
        return curation_recipe(docs, meta_cols=CURATE_META)

    noop(recipe())
    t_exact = median_time(lambda: noop(exact()), 1)
    layers = {
        "curate.quality_exact_s": t_exact,
        "dedup.fuzzy_s": median_time(lambda: noop(fuzzy()), 1) - t_exact,
        "contamination.decontam_s": median_time(lambda: noop(decontaminate(docs)), 1),
        "curate.recipe_s": median_time(lambda: noop(recipe()), 1),
        "curate.kept_rows": filter_scored(
            apply_quality(docs, meta_cols=CURATE_META), F.col("keep")).count(),
        "curate.exact_survivors": exact().count(),
        "curate.fuzzy_survivors": fuzzy().filter(F.col("keep")).count(),
    }
    final = recipe().select("doc_id").toPandas()["doc_id"]
    layers["curate.final_rows"] = len(final)
    bad = []
    if recipe().count() != len(final):
        bad.append("curation_recipe row count differs between passes")
    ids = src.select("url", "doc_id").toPandas().set_index("url")["doc_id"]
    groups = pdf.assign(doc_id=pdf["url"].map(ids))
    groups = groups[(groups["dup_group"] >= 0) & groups["doc_id"].isin(set(final))]
    over = groups.groupby("dup_group").size()
    if (over > 1).any():
        bad.append(f"{int((over > 1).sum())} planted exact-duplicate groups keep more than one doc")
    return layers, bad


def model_body_ms_per_kdoc(texts: pd.Series, reps: int = 3) -> dict[str, float]:
    """score_batch of each model on the driver, one thread, warm model."""
    out = {}
    for key, mod in (("langid", langid), ("perplexity", perplexity)):
        model = mod.get_model()
        t = median_time(lambda: model.score_batch(texts), reps)
        out[f"{key}.body_ms_per_kdoc"] = t * 1000 / (len(texts) / 1000)
    return out
