"""Seeded inputs for the benchmark.

`write_inputs(out_dir, seed)` writes two input sets, both made only from
`seed`:

* the query tables the `iterative` queries read (orders, lineitem,
  documents) at the 0.001 scale, one parquet file each, with the schemas
  and value ranges the `SparkEntry.queries` builders and their DuckDB
  oracles were written against;
* the curation corpus (`corpus.parquet/`, several files so Spark reads it
  as several input partitions) and the decontamination blocklist source
  (`benchmark_docs.parquet`), plus `truth.json`: what every curation stage
  must output, derived here from how each document was generated and
  never from running the pipeline.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Token vocabulary of the `documents` table the queries were written for.
DOC_VOCAB = [
    "scan", "column", "window", "order", "sort", "part", "agg", "value",
    "line", "key", "join", "merge", "query", "group", "a", "vector", "hash",
    "slow", "stream", "filter", "fast", "batch", "the", "spark", "table",
    "small", "data", "big", "customer", "row"]

# Curation corpus: content words carry no language marker and no stopword,
# so a document's language and stopword hits come only from the markers
# inserted for its language (see `TextAnalysis.langId` / `stopwordRatio`).
CONTENT = [
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "index", "cache", "shuffle", "join", "plan", "stage",
    "task", "block", "page", "store", "read", "write", "node", "graph",
    "model", "token", "corpus", "shard", "epoch", "layer", "weight", "loss"]
MARKERS = {"en": ["the", "a", "and"], "de": ["der", "und", "die"],
           "fr": ["le", "la", "et"], "es": ["el", "los", "y"]}
LANGS = ["en", "en", "en", "de", "fr", "es"]

# Curation parameters, passed to the harness by run.py; the ground truth
# below is derived from the same values.
CORPUS_DOCS = 1000
CORPUS_FILES = 6
BENCH_DOCS = 60
PREFIX_TOKENS = 12      # decontamination key: a document's first 12 tokens
CHUNK_TOKENS = 64
PACK_BUDGET = 2048
MIX_ALPHA = 0.3
MIX_BUDGET = 10_000_000
QUALITY_MIN = 0.5
CURATION_PARAMS = {
    "prefix-tokens": PREFIX_TOKENS, "chunk-tokens": CHUNK_TOKENS,
    "pack-budget": PACK_BUDGET, "mix-alpha": MIX_ALPHA,
    "mix-budget": MIX_BUDGET, "quality-min": QUALITY_MIN}

# The tables q84_pagerank, q88_bpe_encode and q65_neardup_clusters read.
QUERY_TABLES = ("orders", "lineitem", "documents")


def _ts(base, seconds):
    return [base + datetime.timedelta(seconds=float(s)) for s in seconds]


def query_tables(seed):
    """The 0.001-scale query tables, keyed by name."""
    rng = np.random.default_rng([seed, 1])
    t = {}
    d95 = datetime.datetime(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(1500), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 150, 1500), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], 1500),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, 1500), 2),
        "o_orderdate": pa.array(_ts(d95, rng.integers(0, 2404, 1500) * 86400),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], 1500)})
    n = 6000
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(
            _ts(d95 + datetime.timedelta(days=1),
                rng.integers(0, 2498, n) * 86400), pa.timestamp("us"))})
    n = 500
    # 5% near duplicates of an earlier document ("<text> dup"), as in the
    # tables the queries were written for;
    # counts and the length multiset are fixed, only their order is drawn
    dup = set(rng.choice(np.arange(1, n), n // 20, replace=False).tolist())
    lengths = rng.permutation(10 + np.arange(n) * 90 // n)
    texts = []
    for i in range(n):
        if i in dup:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB, int(lengths[i]))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "fr", "es", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    return t


def _quality_floor(text, n_tokens):
    """Lower bound of `TextAnalysis.qualityScore` for a text of alphabetic
    tokens joined by single spaces: length band plus alpha ratio, without
    the stopword term."""
    n = len(text)
    len_score = 1.0 if 200 <= n <= 5000 else (0.5 if n >= 50 else 0.0)
    return (len_score + (n - (n_tokens - 1)) / n) / 3.0


def corpus(seed):
    """Curation corpus, blocklist source and per-stage ground truth.

    Kinds: clean documents; junk (short digit strings, which score 0 at the
    quality gate); exact copies and near copies (one appended token) of
    earlier clean documents; contaminated documents that open with a
    blocklisted 12-token prefix. A copy always has a larger id than its
    donor, so the canonical survivor of a group is the donor."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(CONTENT)
    bench = [" ".join(vocab[rng.integers(0, len(vocab), PREFIX_TOKENS + 20)])
             for _ in range(BENCH_DOCS)]
    n = CORPUS_DOCS
    # kinds 0 junk, 1 clean, 2 exact copy, 3 near copy, 4 contaminated:
    # fixed counts and a fixed length multiset, so every seed asks for the
    # same amount of work; the seed draws their order and the words
    counts = {0: n // 20, 2: 3 * n // 100, 3: 3 * n // 100, 4: n // 50}
    kind = np.ones(n, dtype=np.int64)
    kind[1:1 + sum(counts.values())] = np.repeat(list(counts), list(counts.values()))
    kind[1:] = rng.permutation(kind[1:])
    clean_ids = np.flatnonzero(kind == 1)
    before = np.searchsorted(clean_ids, np.arange(n))  # clean docs with smaller id
    donor = clean_ids[np.minimum((rng.random(n) * before).astype(np.int64),
                                 np.maximum(before - 1, 0))]
    lang_of = rng.integers(0, len(LANGS), n)
    n_words = rng.permutation(60 + np.arange(n) * 160 // n)
    starts = np.concatenate([[0], np.cumsum(n_words)])
    words = vocab[rng.integers(0, len(vocab), starts[-1])].astype(object)
    marker = rng.random(starts[-1]) < 0.125
    marker[starts[1:] - 1] = True                       # every document has one
    owner = np.repeat(np.arange(n), n_words)
    pick = rng.integers(0, 3, starts[-1])
    for li, lang in enumerate(LANGS):
        sel = marker & (lang_of[owner] == li)
        words[sel] = np.array(MARKERS[lang], dtype=object)[pick[sel]]
    junk = rng.integers(0, 999, (n, 6))
    bench_pick = rng.integers(0, BENCH_DOCS, n)
    extra = vocab[rng.integers(0, len(vocab), n)]
    docs, langs = [], []
    for i in range(n):
        k = kind[i]
        if k == 0:
            text, lang = " ".join(str(x) for x in junk[i]), None
        elif k in (2, 3):
            d = donor[i]
            text = docs[d] if k == 2 else docs[d] + " " + extra[i]
            lang = langs[d]
        else:
            body = words[starts[i]:starts[i + 1]]
            if k == 4:
                body = bench[bench_pick[i]].split()[:PREFIX_TOKENS] + list(body)
            text, lang = " ".join(body), LANGS[lang_of[i]]
            assert _quality_floor(text, len(body)) > QUALITY_MIN + 0.05
        docs.append(text)
        langs.append(lang)
    kinds = kind.tolist()
    gate = [i for i in range(n) if kinds[i] != 0]
    first = {}
    for i in gate:
        first.setdefault(docs[i], i)
    exact = [i for i in gate if first[docs[i]] == i]
    near = [i for i in exact if kinds[i] != 3]
    block = {" ".join(b.split()[:PREFIX_TOKENS]) for b in bench}
    clean = [i for i in near
             if " ".join(docs[i].split()[:PREFIX_TOKENS]) not in block]
    ntok = {i: docs[i].count(" ") + 1 for i in clean}
    per_lang = {}
    for i in clean:
        per_lang[langs[i]] = per_lang.get(langs[i], 0) + ntok[i]
    z = sum(v ** MIX_ALPHA for v in per_lang.values())
    mix = [[lang, c, c ** MIX_ALPHA / z, c ** MIX_ALPHA / z * MIX_BUDGET / c]
           for lang, c in sorted(per_lang.items())]
    chunks, pack, cum = [], [], 0
    for i in clean:
        for c in range(-(-ntok[i] // CHUNK_TOKENS)):
            k = min(CHUNK_TOKENS, ntok[i] - c * CHUNK_TOKENS)
            cum += k
            chunks.append([i, c, k])
            pack.append([i, c, cum, (cum - k) // PACK_BUDGET])
    truth = {
        "gate": {"columns": ["doc_id", "lang"],
                 "rows": [[i, langs[i]] for i in gate]},
        "exact": {"columns": ["id"], "rows": [[i] for i in exact]},
        "neardup": {"columns": ["id"], "rows": [[i] for i in near]},
        "decontam": {"columns": ["id"], "rows": [[i] for i in clean]},
        "mix": {"columns": ["lang", "n_tokens", "p", "epochs"], "rows": mix},
        "chunk": {"columns": ["id", "chunk", "n_chunk_tokens"], "rows": chunks},
        "pack": {"columns": ["id", "chunk", "cum_tokens", "bin"], "rows": pack},
    }
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": docs,
        "source": [f"src{i % 20}" for i in range(n)]})
    return table, pa.table({"text": bench}), truth


def write_inputs(out_dir, seed, curation):
    """Writes the curation inputs when `curation`, else the query tables."""
    os.makedirs(out_dir, exist_ok=True)
    if not curation:
        for name, table in query_tables(seed).items():
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        return
    table, bench, truth = corpus(seed)
    cdir = os.path.join(out_dir, "corpus.parquet")
    os.makedirs(cdir, exist_ok=True)
    step = -(-table.num_rows // CORPUS_FILES)
    for f in range(CORPUS_FILES):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(cdir, f"part-{f:05d}.parquet"))
    pq.write_table(bench, os.path.join(out_dir, "benchmark_docs.parquet"))
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
