"""Seeded input generator for the benchmark.

Two kinds of input, both pure functions of (seed, sizes):

* query logs for the autocomplete job, drawn Zipf-style from a vocabulary
  of ``V`` distinct queries: ``H`` hourly text files
  ``YYYY-MM-DD-HH.txt`` of ``L`` lines each, in which about 10% of lines
  carry case or space noise and about 1% are blank or one character, so
  the pipeline's filter and normalisation have work to do; and a history
  of earlier traffic from the same distribution, delivered as the
  cumulative (prefix, query, frequency) state the job would have built
  from it, so every hourly run merges a small delta into a much larger
  state;
* the documents and embeddings tables the similarity queries read, with
  the same schemas and value distributions as the sf0.1 tables and a row
  count scaled by ``frac`` (``frac=1`` is sf0.1).

The same seed gives byte-identical files; another seed gives different
inputs of the same shape.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = ("a the data spark table column row key value join group agg "
             "sort hash scan filter window stream batch merge query order "
             "part line customer vector big small fast slow").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

# The job's prefix rule: prefixes of 2 to 60 characters.
MIN_PREFIX, MAX_PREFIX = 2, 60
STATE_FILES = 8


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def tables(out_dir, seed, frac):
    """Write the documents and embeddings tables, scaled from sf0.1 by
    ``frac``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_doc = max(100, int(5000 * frac))
    n_emb = max(100, int(2000 * frac))

    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:    # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS,
                                             int(rng.integers(10, 101)))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype("float32")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{out_dir}/embeddings.parquet")


LOG_WORDS_A = ("best cheap how why what new free easy top local online "
               "fast quick simple home used").split()


def _vocabulary(rng, v):
    """``v`` distinct lowercase queries of 2-9 made-up words."""
    syll = ["ka", "ro", "mi", "te", "su", "na", "lo", "pe", "di", "ba",
            "zu", "fo", "ri", "ye", "ga", "ho"]
    words = sorted({"".join(syll[j] for j in rng.integers(0, 16, n))
                    for n in rng.integers(2, 5, 4000)})
    out, seen = [], set()
    while len(out) < v:
        lens = rng.integers(1, 9, v)
        heads = rng.integers(0, len(LOG_WORDS_A), v)
        picks = rng.integers(0, len(words), (v, 8))
        for n, h, p in zip(lens, heads, picks):
            q = " ".join([LOG_WORDS_A[h]] + [words[j] for j in p[:n]])
            if q not in seen and len(out) < v:
                seen.add(q)
                out.append(q)
    return out


def _noisy(rng, q):
    r = rng.random()
    if r < 0.04:
        return q.upper()
    if r < 0.07:
        return q.title()
    if r < 0.10:
        return " " * int(rng.integers(1, 4)) + q + " " * int(rng.integers(0, 3))
    if r < 0.105:
        return ""
    if r < 0.11:
        return q[0]
    return q


def _zipf(vocab):
    weights = 1.0 / np.arange(1, vocab + 1) ** 1.05
    return weights / weights.sum()


def query_logs(logs_dir, state_dir, seed, hours, lines, vocab, history):
    """Write ``hours`` hourly log files to ``logs_dir`` and, to
    ``state_dir``, the state built from ``history`` earlier lines. Returns
    (the log paths in order, the history's query -> count)."""
    rng = np.random.default_rng([seed, 2])
    queries = _vocabulary(rng, vocab)
    weights = _zipf(vocab)
    os.makedirs(logs_dir, exist_ok=True)
    os.makedirs(state_dir, exist_ok=True)

    ids, n = np.unique(rng.choice(vocab, history, p=weights),
                       return_counts=True)
    base = {queries[i]: int(c) for i, c in zip(ids, n)}
    rows = [(q[:m], q, c) for q, c in sorted(base.items())
            for m in range(MIN_PREFIX, min(len(q), MAX_PREFIX) + 1)]
    state = pa.table({
        "prefix": pa.array([r[0] for r in rows], pa.string()),
        "query": pa.array([r[1] for r in rows], pa.string()),
        "frequency": pa.array([r[2] for r in rows], pa.int64())})
    # several files, as the job's own state writes leave it
    step = -(-len(rows) // STATE_FILES)
    for p in range(STATE_FILES):
        _write(state.slice(p * step, step),
               f"{state_dir}/part-{p:05d}.parquet")

    start = datetime.datetime(2025, 6, 10, 0)
    paths = []
    for h in range(hours):
        picks = rng.choice(vocab, lines, p=weights)
        name = (start + datetime.timedelta(hours=h)).strftime("%Y-%m-%d-%H")
        path = f"{logs_dir}/{name}.txt"
        with open(path, "w", encoding="ascii", newline="\n") as f:
            f.write("\n".join(_noisy(rng, queries[i]) for i in picks) + "\n")
        paths.append(path)
    return paths, base
