"""The benchmark's workloads: which engine calls one pass makes, in order.

A workload is a list of steps. Each step is one closed-loop client call
into the engine whose wall time is measured (plan construction plus the
action), followed after the pass by an untimed check of its output:

- ``Query`` runs one registered DataFrame query and collects its rows;
  the check compares them with the query's DuckDB oracle.
- ``ParityJob`` runs one of the reference's MapReduce apps through
  ``parity.run_job_df`` and ``parity.write_text_output``; the check
  compares the written files with ``parity.mapreduce.sequential_oracle``
  over the same input files.

The tables are the committed sf0.01 fixture (the seed-42 star schema,
events and documents at the scale of the engine's t2 oracle check); they
are the same on every run. The seed passed to the benchmark generates
the MapReduce corpus.
"""

from __future__ import annotations

import glob
import itertools
import os
import random
import shutil
from dataclasses import dataclass

from perfbench import verify

# TPC-H queries as registered, then windowing, grouping-set and
# sessionization queries: short SQL whose fixed per-query cost
# (construction, Catalyst, scheduling, scan set-up) dominates.
RELATIONAL_MIX = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q6_forecast_revenue",
    "q12_priority_linestatus",
    "q14_promo_share",
    "top_orders_per_customer",
    "cube_year_status",
    "user_sessions",
)

# Ingest of a text corpus and a media/event feed, in dependency order:
# the reference's MapReduce word count and inverted index over the raw
# files (RDD path, every record pickled to Python workers and shuffled),
# then near-duplicate pairs and their clusters (shared-frame builds,
# candidate-pair shuffles, the driver-side label propagation loop), the
# pure-Python JPEG codec, and the streaming dedup's micro-batches and
# state.
PARITY_APPS = ("wc", "indexer")
CURATION_CHAIN = (
    "minhash_near_dup_pairs",
    "near_dup_survivors",
    "dedup_clusters",
    "multimodal_image_decode",
    "events_stream_dedup",
)
N_REDUCE = 10


@dataclass(frozen=True)
class Query:
    name: str
    kind = "query"

    def run(self, ctx, tracer):
        with tracer.span("construct"):
            df = ctx.queries[self.name](ctx.spark, ctx.sf_dir)
        with tracer.span("action"):
            return df.columns, df.collect()

    def expected(self, ctx):
        return ctx.oracle_digest(ctx.oracles[self.name])

    def check(self, out, expected) -> str | None:
        columns, rows = out
        return verify.compare_digest(verify.rows_digest(columns, rows), expected)


@dataclass(frozen=True)
class ParityJob:
    name: str
    kind = "parity"

    def _apps(self):
        from go_map_reduce_spark.parity import apps

        return getattr(apps, f"{self.name}_map"), getattr(apps, f"{self.name}_reduce")

    def run(self, ctx, tracer):
        from go_map_reduce_spark.parity.mapreduce import run_job_df, write_text_output

        mapf, reducef = self._apps()
        out_dir = os.path.join(ctx.work, "out", self.name)
        with tracer.span("construct"):
            df = run_job_df(ctx.spark, mapf, reducef, ctx.corpus, n_reduce=N_REDUCE)
        with tracer.span("action"):
            write_text_output(df, out_dir)
        return out_dir

    def expected(self, ctx):
        from go_map_reduce_spark.parity.mapreduce import sequential_oracle

        mapf, reducef = self._apps()
        # wholeTextFiles names each file "file:<path>"; give the oracle
        # the same names so the indexer's document lists agree
        named = []
        for p in ctx.corpus:
            with open(p) as fh:
                named.append((f"file:{p}", fh.read()))
        want = sequential_oracle(mapf, reducef, named)
        return sorted(f"{k} {v}" for k, v in want.items())

    def check(self, out_dir, expected) -> str | None:
        got = verify.read_text_output(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        if got == expected:
            return None
        return f"{len(got)} lines written, {len(expected)} expected, contents differ"


WORKLOADS = {
    "relational_mix": tuple(Query(n) for n in RELATIONAL_MIX),
    "ingest_chain": tuple(ParityJob(n) for n in PARITY_APPS)
    + tuple(Query(n) for n in CURATION_CHAIN),
}


# Corpus shape: whole text files like the reference's main/pg-*.txt
# (8 books of 139-594 KB, 3.3 MB in all), words drawn from a
# Zipf-distributed vocabulary.
FILE_KB = (139, 350, 400, 430, 440, 460, 488, 594)
WORDS_PER_LINE = 12
VOCABULARY = 6_000
ZIPF_S = 1.1


def make_corpus(directory: str, seed: int) -> list[str]:
    """Write the seed's corpus under ``directory``; return the file paths."""
    shutil.rmtree(directory, ignore_errors=True)
    os.makedirs(directory)
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted(
        {"".join(rng.choices(letters, k=rng.randint(2, 10))) for _ in range(VOCABULARY)}
    )
    rng.shuffle(vocab)
    cum_weights = list(
        itertools.accumulate(1.0 / (rank + 1) ** ZIPF_S for rank in range(len(vocab)))
    )
    for i, kb in enumerate(FILE_KB):
        lines, size = [], 0
        while size < kb * 1000:
            words = rng.choices(vocab, cum_weights=cum_weights, k=WORDS_PER_LINE)
            lines.append(" ".join(words).capitalize() + rng.choice(".,;!?"))
            size += len(lines[-1]) + 1
        with open(os.path.join(directory, f"pg-{i:02d}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return sorted(glob.glob(os.path.join(directory, "pg-*.txt")))
