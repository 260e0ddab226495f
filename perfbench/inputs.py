"""Seeded inputs, generated once and cached under ``.perfbench/inputs``.

Generation runs in a child process (``python3 perfbench/inputs.py
<kind> [seed]``) so neither its time nor its memory lands in the
measured process.  Two kinds:

* ``search``: the 20k-doc webtext corpus (seed ``SEARCH_CORPUS_SEED``),
  its prebuilt single-field index, the 8k-doc two-field (title, text)
  index, and the oracle's answers to every reference query.  Built once
  per checkout; the run's ``--seed`` draws the request stream.
* ``ingest``: a corpus of ``INGEST_DOCS`` docs plus ``COMMITS`` delta
  batches and removal lists, all from the run's seed, with the
  oracle's token streams for every doc.  Cached per seed.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import pickle
import random
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common as C  # noqa: E402

SEARCH_DOCS = 20_000
SEARCH_CORPUS_SEED = 42
MF_DOCS = 8_000
MF_BOOSTS = {"title": 2.0, "text": 1.0}
MF_FIELDS = ["title^2", "text"]
INGEST_DOCS = 3_000
WARMUP_DOCS = 150
COMMITS = 2
ADD_PER_COMMIT = 150
REMOVE_PER_COMMIT = 30
TOP_K = 10


def search_config():
    from elasticsearch_spark.operators.build import IndexConfig

    return IndexConfig(n_buckets=32, doc_range_bits=11)


def mf_config():
    from elasticsearch_spark.operators.build import IndexConfig

    return IndexConfig(n_buckets=16, doc_range_bits=8, use_html=False, positional=False)


def ingest_config():
    from elasticsearch_spark.operators.build import IndexConfig

    return IndexConfig(n_buckets=16, doc_range_bits=10)


def _code_hash() -> str:
    """Inputs include indexes the package wrote, so key them on its code."""
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(C.PACKAGE, "**", "*.py"), recursive=True))
    for p in files + [os.path.abspath(__file__)]:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _dir(kind: str, seed=None) -> str:
    name = kind if seed is None else f"{kind}-{seed}"
    return os.path.join(C.WORK, "inputs", f"{name}-{_code_hash()}")


def ensure(kind: str, seed=None) -> str:
    """Path of the cached inputs, generating them in a child process
    on first use."""
    d = _dir(kind, seed)
    if not os.path.exists(os.path.join(d, "DONE")):
        cmd = [sys.executable, os.path.abspath(__file__), kind]
        if seed is not None:
            cmd.append(str(seed))
        subprocess.run(cmd, check=True, stdout=sys.stderr)
    return d


# ------------------------------------------------------------ generation
def _tokens(text: str) -> str:
    from elasticsearch_spark.functions.tokenizer import tokenize

    return " ".join(tokenize(text))


def tokenize_all(texts: list) -> list:
    """The oracle's token streams, tokenized on nproc workers."""
    return C.pool_map(_tokens, texts)


def _read_rows(path: str) -> list:
    import pyarrow.parquet as pq

    rows = []
    for p in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        rows.extend(pq.read_table(p).to_pylist())
    return rows


def _write_rows(path: str, rows: list, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    per = max(1, -(-len(rows) // n_files))
    for i in range(0, len(rows), per):
        pq.write_table(pa.Table.from_pylist(rows[i:i + per]),
                       os.path.join(path, f"part-{i // per:05d}.parquet"))


def _word_pool() -> list:
    from elasticsearch_spark.sources.webtext import query_vocab

    return query_vocab(C.QUERYSET)


def _doc_ids(spark, index_dir: str) -> dict:
    from elasticsearch_spark.operators.reader import live_docs

    return {r["url"]: r["doc_id"] for r in live_docs(spark, index_dir).select("doc_id", "url").collect()}


def expected_answers(oracle, queries) -> dict:
    """Oracle answers: ranked top-k [(doc_id, score)] and boolean hit
    sets (total + the k smallest ids, the ``boolean_topk`` shape)."""
    from elasticsearch_spark.functions.tokenizer import is_boolean_query

    out = {"ranked": {}, "boolean": {}}
    for q in queries:
        if is_boolean_query(q):
            hits = sorted(oracle.boolean_query(q))
            out["boolean"][q] = {"total": len(hits), "first": hits[:TOP_K]}
        else:
            res = oracle.query(q, k=TOP_K)["results"]
            out["ranked"][q] = [[r["doc_id"], r["score"]] for r in res]
    return out


_TOKENS: dict = {}


def load_tokens(path: str) -> None:
    """Pool initializer: the ingest corpus's token streams by url."""
    with open(path, "rb") as f:
        _TOKENS.update(pickle.load(f))


def live_answers(task) -> dict:
    """Oracle answers over one index generation's expected live docs,
    given as (engine doc_id, url) pairs."""
    from elasticsearch_spark.oracle.engine import OracleIndex

    live, queries = task
    oracle = OracleIndex.build([(d, _TOKENS[u]) for d, u in live], pretokenized=True)
    return expected_answers(oracle, queries)


def make_search(d: str) -> None:
    from elasticsearch_spark.functions.tokenizer import is_boolean_query
    from elasticsearch_spark.operators.build import IndexBuilder
    from elasticsearch_spark.operators.multifield import MultiFieldIndexBuilder
    from elasticsearch_spark.oracle.engine import OracleIndex, multi_match_query
    from elasticsearch_spark.sources.webtext import write_parquet

    corpus = os.path.join(d, "corpus")
    write_parquet(corpus, SEARCH_DOCS, seed=SEARCH_CORPUS_SEED, mix_words=_word_pool())
    rows = _read_rows(corpus)
    mf_rows = [
        {"url": r["url"], "lang": r["lang"], "text": r["text"],
         "title": " ".join(r["text"].split(" ")[:3])}
        for r in rows[:MF_DOCS]
    ]
    _write_rows(os.path.join(d, "mf_corpus"), mf_rows, 8)
    en = [r for r in rows if r["lang"] == "en"]
    toks = dict(zip((r["url"] for r in en), tokenize_all([r["text"] for r in en])))
    mf_en = [r for r in mf_rows if r["lang"] == "en"]
    title_toks = tokenize_all([r["title"] for r in mf_en])

    spark = C.start_spark("perfbench-inputs")
    try:
        IndexBuilder(spark, os.path.join(d, "index"), search_config()).build(
            spark.read.parquet(corpus))
        MultiFieldIndexBuilder(spark, os.path.join(d, "mf_index"), ["title", "text"],
                               mf_config()).build(spark.read.parquet(os.path.join(d, "mf_corpus")))
        ids = _doc_ids(spark, os.path.join(d, "index"))
        mf_ids = _doc_ids(spark, os.path.join(d, "mf_index", "fields", "text"))
    finally:
        C.stop_spark(spark)

    if set(ids) != set(toks) or set(mf_ids) != {r["url"] for r in mf_en}:
        raise RuntimeError("an index's live urls differ from the corpus's en docs")
    queries = C.load_queries()
    oracle = OracleIndex.build([(ids[u], t) for u, t in toks.items()], pretokenized=True)
    expected = expected_answers(oracle, queries)
    mf_oracles = {
        "title": OracleIndex.build([(mf_ids[r["url"]], t) for r, t in zip(mf_en, title_toks)],
                                   pretokenized=True),
        "text": OracleIndex.build([(mf_ids[r["url"]], toks[r["url"]]) for r in mf_en],
                                  pretokenized=True),
    }
    expected["mm"] = {}
    for q in queries:
        if not is_boolean_query(q):
            res = multi_match_query(mf_oracles, MF_BOOSTS, q, k=TOP_K)["results"]
            expected["mm"][q] = [[r["doc_id"], r["score"]] for r in res]
    meta = {
        "docs": len(rows), "en_docs": len(en),
        "text_bytes": sum(len(r["text"].encode()) for r in en),
        "postings": sum(len(p) for p in oracle.postings.values()),
        "terms": len(oracle.postings),
    }
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump(expected, f)
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump(meta, f)


def make_ingest(d: str, seed: int) -> None:
    from elasticsearch_spark.sources.webtext import write_parquet

    total = INGEST_DOCS + COMMITS * ADD_PER_COMMIT
    raw = os.path.join(d, "raw")
    write_parquet(raw, total, seed=seed, mix_words=_word_pool(), n_files=8)
    rows = _read_rows(raw)
    shutil.rmtree(raw)
    base = rows[:INGEST_DOCS]
    _write_rows(os.path.join(d, "base"), base, 2 * C.nproc())
    _write_rows(os.path.join(d, "warmup"), base[:WARMUP_DOCS], 1)
    for c in range(COMMITS):
        lo = INGEST_DOCS + c * ADD_PER_COMMIT
        _write_rows(os.path.join(d, f"delta{c}"), rows[lo:lo + ADD_PER_COMMIT], 1)
    rng = random.Random(seed)
    picked = rng.sample([r["url"] for r in base], COMMITS * REMOVE_PER_COMMIT)
    removes = [picked[c * REMOVE_PER_COMMIT:(c + 1) * REMOVE_PER_COMMIT] for c in range(COMMITS)]
    en = [r for r in rows if r["lang"] == "en"]
    toks = dict(zip((r["url"] for r in en), tokenize_all([r["text"] for r in en])))
    with open(os.path.join(d, "tokens.pkl"), "wb") as f:
        pickle.dump(toks, f)
    meta = {
        "removes": removes,
        "text_bytes": sum(len(r["text"].encode()) for r in base if r["lang"] == "en"),
        # the indexed (en) urls of the base and of each delta batch
        "base_urls": [r["url"] for r in base if r["lang"] == "en"],
        "delta_urls": [[r["url"] for r in rows[INGEST_DOCS + c * ADD_PER_COMMIT:
                                                INGEST_DOCS + (c + 1) * ADD_PER_COMMIT]
                        if r["lang"] == "en"] for c in range(COMMITS)],
    }
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump(meta, f)


def main(argv: list) -> None:
    C.use_checkout_env()
    kind = argv[0]
    seed = int(argv[1]) if len(argv) > 1 else None
    d = _dir(kind, seed)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if kind == "search":
        make_search(d)
    elif kind == "ingest":
        make_ingest(d, seed)
    else:
        raise SystemExit(f"unknown input kind {kind!r}")
    open(os.path.join(d, "DONE"), "w").close()


if __name__ == "__main__":
    main(sys.argv[1:])
