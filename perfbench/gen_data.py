"""Build one cached input directory for the benchmark.

Run as its own process (``run.py`` starts it and waits), so the JVM that
generates the data is never the JVM that is measured:

    python3 perfbench/gen_data.py --sf 0.01 --out .perfbench/data/sf0.01

The star-schema tables come from the repo's own
``tools/gen_scale_data.py`` (hash-derived, identical on every run). Its
``documents`` table is replaced by ``corpus()`` below: the generator's
token model carries no stopwords, so every document fails the language
and quality gates and the curation operators would run on an empty
corpus. ``corpus()`` draws language-tagged text with stopwords, exact
and near duplicates and shared boilerplate passages from a fixed seed,
so curation keeps some documents and drops others at every gate.

The directory is built under a temporary name and renamed when complete,
so an interrupted build is never reused.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

# Fixed: the data never depends on the benchmark's --seed (which only
# orders the work), so every run of a workload reads the same bytes.
DATA_SEED = 20261017

CONTENT = (
    "batch part spark line column order small sort fast value scan query agg "
    "table hash slow filter customer stream key group join shuffle stage task "
    "plan read write disk memory cache broadcast skew merge index page row"
).split()
STOPWORDS = {
    "en": ("the", "and", "of", "is", "to"),
    "fr": ("le", "et", "les", "une", "est"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "los", "una", "es", "y"),
    "zh": ("de", "shi", "le", "bu", "zai"),
}
LANGS = ("en", "en", "en", "en", "de", "fr", "es", "zh")
N_SOURCES = 20
# each content word is followed by one of three fixed successors with
# probability FOLLOW, which keeps bigram perplexity near the registry's
# keep threshold (31); RARE of the tokens carry one of RARE_N numeric
# suffixes, which keeps unrelated documents out of each other's minhash
# buckets; BOILER of the fresh documents carry a shared 60-token passage
SUCCESSORS = {w: random.Random(w).sample(CONTENT, 3) for w in CONTENT}
FOLLOW, RARE, RARE_N, BOILER = 0.9, 0.03, 1000, 0.12
STOP_SHARE = 0.14


def _words(rng: random.Random, n: int, lang: str) -> list[str]:
    out, w = [], rng.choice(CONTENT)
    for _ in range(n):
        w = rng.choice(SUCCESSORS[w]) if rng.random() < FOLLOW else rng.choice(CONTENT)
        u = rng.random()
        if u < STOP_SHARE:
            out.append(rng.choice(STOPWORDS[lang]))
        elif u < STOP_SHARE + RARE:
            out.append(f"{w}{rng.randrange(RARE_N)}")
        else:
            out.append(w)
    return out


def corpus(n_docs: int, seed: int = DATA_SEED) -> list[tuple[int, str, str, str, int]]:
    """``(doc_id, text, lang, source, n_chars)`` rows of a synthetic corpus.

    About 8% of documents repeat a fresh document's text exactly, 8%
    repeat one with ~4% of its tokens changed, 12% of fresh documents
    carry a boilerplate passage, 8% are tagged with a language other
    than the one their stopwords show, and lengths run 12-110 tokens, so
    the language, quality, perplexity, exact, near-duplicate and span
    gates each drop some documents."""
    rng = random.Random(seed)
    boiler = [_words(rng, 60, "en") for _ in range(3)]
    texts: list[list[str]] = []
    rows = []
    fresh: list[int] = []  # copies are made of fresh documents only, so no copy chains
    for i in range(n_docs):
        r = rng.random()
        if i >= 10 and r < 0.08:
            j = rng.choice(fresh)
            toks, lang = list(texts[j]), rows[j][2]
        elif i >= 10 and r < 0.16:
            j = rng.choice(fresh)
            toks, lang = list(texts[j]), rows[j][2]
            for k in rng.sample(range(len(toks)), max(1, len(toks) // 25)):
                toks[k] = rng.choice(CONTENT)
        else:
            lang = rng.choice(LANGS)
            spoken = rng.choice(sorted(STOPWORDS)) if rng.random() < 0.08 else lang
            toks = _words(rng, rng.randint(12, 110), spoken)
            if rng.random() < BOILER:
                at = rng.randrange(len(toks) + 1)
                toks[at:at] = rng.choice(boiler)
            fresh.append(i)
        texts.append(toks)
        text = " ".join(toks)
        rows.append((i, text, lang, f"src{i % N_SOURCES}", len(text)))
    return rows


def write_documents(path: str, rows) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    pq.write_table(table, path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    repo = os.getcwd()
    sys.path.insert(0, repo)
    sys.path.insert(0, os.path.join(repo, "tools"))
    from gen_scale_data import BASE, gen  # the repo's own generator

    from classification_pyspark_spark.session import get_spark
    from probes import stop_spark

    out = os.path.abspath(args.out)
    tmp = out + ".tmp"
    scratch = os.path.join(os.path.dirname(out), "gen-scratch")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)
    t0 = time.perf_counter()
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    spark = get_spark(
        "perfbench-gen",
        conf={
            "spark.driver.memory": "4g",
            "spark.local.dir": scratch,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        gen(spark, tmp, args.sf)
    finally:
        stop_spark(spark)
    docs = os.path.join(tmp, "documents.parquet")
    shutil.rmtree(docs)
    write_documents(docs, corpus(max(1, int(BASE["documents"] * args.sf))))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"sf": args.sf, "gen_s": time.perf_counter() - t0, "data_seed": DATA_SEED}, f)
    os.rename(tmp, out)
    shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
