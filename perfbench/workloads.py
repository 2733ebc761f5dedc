"""The workloads: seeded inputs, their jobs, and output checks.

A job is one call chain a user would make, split into phases that the
tracer can time (``construct``, ``catalyst``, ``execute``/``write``); in
the timed runs the phases simply run. Each job checks its own output:
the map/reduce jobs byte for byte against the generator's expected
lines, the registry queries against a digest of their first output,
which is itself checked against the DuckDB oracle once per seed.
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import json
import os
import random
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd

from perfbench import gen

# Fixed input sizes (the seed varies content only). Chosen so a run of
# either workload, set-up included, takes about a minute on 4 cores. At
# 1000 documents the crawl queries and the connected-components loop
# still spend their time on plan construction and job scheduling (one
# clustering call: 48 Spark jobs over 3 rounds, about 3 MB shuffled).
MR_JSON_LINES = 100_000
MR_KV_LINES = 100_000
CORPUS_DOCS = 1000

# Crawl queries whose cost is mostly plan construction, Catalyst and
# scheduling: the largest plan (about 2k py4j calls) and the smallest
# (91). robots_txt_gate is left out as a second sitemap_discovery;
# html_extract_text and corpus_funnel_report because execution is most of
# their time (about 9 and 4 cpu-s at 600 docs), which the other workload
# measures. Each would lengthen a round that runs five times per run.
WEB_QUERIES = (
    "sitemap_discovery",
    "url_canonicalize",
)


@dataclass
class Job:
    name: str
    records: int  # input records one run of the job reads
    run: Callable  # (tracer) -> output
    check: Callable  # (output) -> bool
    layer_counts: Callable | None = None  # (output) -> dict, traced runs only
    oracle: bool = False  # a registry query: its first output is checked by the oracle


@dataclass
class Workload:
    name: str
    generate: Callable  # (dir, seed, cpus) -> inputs (JSON-able)
    jobs: Callable  # (spark, inputs, out_dir, refs) -> list[Job]
    python_workers: bool = False  # jobs run Python workers: start them before the first job


# -- user functions (module level: Python workers import them by name) --------


def warm_batches(batches):
    """Identity ``mapInPandas`` function: starts the Python workers."""
    yield from batches


def count_fields(pdf: pd.DataFrame) -> pd.DataFrame:
    """Job A mapper: count every JSON field name and ``lines_read`` per
    Arrow batch (in-mapper combining); malformed lines are skipped."""
    counts: Counter = Counter()
    for line in pdf["value"]:
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if isinstance(rec, dict):
            counts["lines_read"] += 1
            counts.update(rec.keys())
    return pd.DataFrame(
        {"key": [json.dumps(k) for k in counts], "value": [str(v) for v in counts.values()]}
    )


def sum_combiner(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """Job B combiner: per-batch partial sum, same schema in as out."""
    return pd.DataFrame({"key": [key], "value": [str(pdf["value"].astype("int64").sum())]})


def sum_reducer(key, pdf: pd.DataFrame) -> pd.DataFrame:
    """Job B reducer: total per key."""
    return pd.DataFrame({"key": [key], "value": [int(pdf["value"].astype("int64").sum())]})


# -- output checks --------------------------------------------------------------


def part_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*")))


def part_lines(path: str) -> list[str]:
    """Every line of a ``part-*`` directory (gzip or plain), sorted."""
    lines: list[str] = []
    for f in part_files(path):
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt") as fh:
            lines.extend(fh.read().splitlines())
    return sorted(lines)


def sink_counts(path: str) -> dict:
    files = part_files(path)
    return {"sink.files": len(files), "sink.output_bytes": sum(os.path.getsize(f) for f in files)}


def frame_digest(pdf: pd.DataFrame) -> str:
    """Order-independent digest of a collected result."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(r) for r in pdf[cols].itertuples(index=False, name=None))
    return hashlib.sha256("\n".join([repr(cols)] + rows).encode()).hexdigest()


# -- mr_jsonlines ---------------------------------------------------------------


def _mr_generate(root: str, seed: int, cpus: int) -> dict:
    return gen.write_mr_inputs(root, seed, cpus, MR_JSON_LINES // cpus, MR_KV_LINES // cpus)


def _mr_jobs(spark, inputs: dict, out_dir: str, refs: dict) -> list[Job]:
    from pyspark.sql import functions as F

    from gomrjob_spark.pipeline import SUM, Pipeline, Step
    from gomrjob_spark.protocols import count_malformed_kv, parse_kv_lines
    from gomrjob_spark.sources import read_lines, read_text_dir, write_part_files

    out_a = os.path.join(out_dir, "field_count")
    out_b = os.path.join(out_dir, "key_sum")

    # Pipeline.run_to_dir is run() then write_tsv_part_files(), which
    # projects ``key\tvalue`` lines and hands them to write_part_files().
    # The job makes that same projection itself, so Catalyst is timed on
    # the Dataset the write executes and construct and write stay apart.
    def tsv(df):
        return df.select(F.concat_ws("\t", F.col("key").cast("string"), F.col("value").cast("string")).alias("value"))

    def run_a(t):
        pipe = Pipeline(steps=[Step(mapper=t.user_fn("mapper", count_fields), reducer=SUM)])
        lines = t.phase("construct", lambda: tsv(pipe.run(read_lines(spark, inputs["json_paths"]))))
        t.catalyst(lines)
        t.phase("write", lambda: write_part_files(lines, out_a, compress=True))
        return out_a

    def run_b(t):
        pipe = Pipeline(
            steps=[
                Step(
                    reducer=t.user_fn("reducer", sum_reducer),
                    combiner=t.user_fn("combiner", sum_combiner),
                    reduce_schema="key string, value bigint",
                )
            ]
        )
        lines = t.phase(
            "construct", lambda: tsv(pipe.run(parse_kv_lines(read_text_dir(spark, inputs["kv_dir"]))))
        )
        t.catalyst(lines)
        t.phase("write", lambda: write_part_files(lines, out_b))
        return out_b

    def counts_a(path):
        lines_read = next(int(x.split("\t")[1]) for x in part_lines(path) if x.startswith('"lines_read"\t'))
        return {"protocols.malformed": inputs["records_a"] - lines_read, **sink_counts(path)}

    def counts_b(path):
        bad = count_malformed_kv(read_text_dir(spark, inputs["kv_dir"])).first()[0]
        return {"protocols.malformed": bad, **sink_counts(path)}

    return [
        Job("field_count", inputs["records_a"], run_a, lambda p: part_lines(p) == inputs["expected_a"], counts_a),
        Job("key_sum", inputs["records_b"], run_b, lambda p: part_lines(p) == inputs["expected_b"], counts_b),
    ]


# -- crawl_dedup ----------------------------------------------------------------


def _crawl_generate(root: str, seed: int, cpus: int) -> dict:
    return {"sf_dir": gen.write_catalog(root, seed, CORPUS_DOCS), "records": CORPUS_DOCS}


def _query_job(spark, name: str, inputs: dict, refs: dict) -> Job:
    from gomrjob_spark.plans import QUERIES

    def run(t):
        df = t.phase("construct", lambda: QUERIES[name](spark, inputs["sf_dir"]))
        t.catalyst(df)
        return t.phase("execute", df.toPandas)

    return Job(name, inputs["records"], run, lambda pdf: frame_digest(pdf) == refs.get(name), oracle=True)


def _cc_job(spark, inputs: dict, refs: dict) -> Job:
    """``dedup_cluster_survivors`` as registered; a traced run also reads
    the connected-components round count and the pair count through the
    operators it calls."""
    from gomrjob_spark.operators import dedup

    job = _query_job(spark, "dedup_cluster_survivors", inputs, refs)
    seen: dict = {}

    def on_pairs(fn, *args, **kwargs):
        seen["pairs"] = fn(*args, **kwargs)
        return seen["pairs"]

    def on_cc(fn, *args, **kwargs):
        stats = kwargs["stats"] = {}
        out = fn(*args, **kwargs)
        seen["rounds"] = stats["rounds"]
        return out

    query_run = job.run

    def run(t):
        seen.clear()
        with t.observe(dedup, "jaccard_pairs", on_pairs), t.observe(dedup, "connected_components", on_cc):
            return query_run(t)

    def counts(_pdf):
        return {"dedup.cc_calls": 1, "dedup.cc_rounds": seen["rounds"], "dedup.pairs": seen["pairs"].count()}

    job.run, job.layer_counts = run, counts
    return job


def _crawl_jobs(spark, inputs: dict, out_dir: str, refs: dict) -> list[Job]:
    return [_query_job(spark, name, inputs, refs) for name in WEB_QUERIES] + [_cc_job(spark, inputs, refs)]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "mr_jsonlines",
            _mr_generate,
            _mr_jobs,
            python_workers=True,
        ),
        Workload(
            "crawl_dedup",
            _crawl_generate,
            _crawl_jobs,
        ),
    )
}


def round_order(jobs: list[Job], rng: random.Random) -> list[Job]:
    """One round runs every job once, in a seeded order."""
    return rng.sample(jobs, len(jobs))
