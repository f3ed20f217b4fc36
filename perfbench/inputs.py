"""Benchmark inputs.

- A document pool comes from ``corpus.generate_webpages`` with a fixed
  seed. It is generated once per checkout in a child process (its own
  JVM, see gen_corpus.py) and cached under ``.perfbench/``, keyed on
  that seed, the pool size and a hash of the generator's source.
- ``--seed`` draws each run's inputs from the pool: the indexed corpus
  (``BASE_DOCS`` documents), a held-back tail cut into upsert batches,
  and the request bodies. Sampling from one pool keeps the corpus's
  statistics (vocabulary, bytes per token) alike across seeds, so the
  seed varies which documents and queries a run sees, not what kind.
- Request bodies are ES bodies drawn from the run corpus's own term
  frequencies (rank order), so the mix follows its Zipf law.
- Upsert batches mix new urls from the tail with re-crawls: tail
  content written under an already indexed url.

``prepare_run`` runs in a child process too (pyarrow only), so neither
the set-up timing nor the measured process's peak RSS carries the
input preparation.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np

BASE_DOCS = 4_000
POOL_FACTOR = 1.5  # pool = 1.5x the corpus, so seeds pick different docs
POOL_SEED = 42
MAX_BATCHES = 20  # the held-back tail holds this many upsert batches
BASE_FILES = 4
HEAD_EVERY = 5  # one body in five carries a head term
PAGE_SIZE = 10
PROBE_TERMS = 3  # a batch's probe: its first new doc's rarest terms, all required
PROBE_SIZE = 200


def batch_docs(base_docs: int) -> int:
    """Upsert batch size: 0.5% of the corpus, half new urls, half re-crawls."""
    return max(2, base_docs // 200) // 2 * 2


def vocab_size(base_docs: int) -> int:
    # the repo's bench convention (bench.py): vocab grows with the corpus
    return max(2000, base_docs // 5)


def pool_docs(base_docs: int) -> int:
    return max(int(base_docs * POOL_FACTOR), base_docs + MAX_BATCHES * batch_docs(base_docs))


def ensure_pool(cache_root: str, base_docs: int, env: dict) -> str:
    """Directory holding ``pool/`` and ``meta.json``; generated by
    ``gen_corpus.py`` on a cache miss."""
    from job_searchengine_project_spark import corpus

    with open(corpus.__file__, "rb") as f:
        src = hashlib.sha256(f.read()).hexdigest()[:16]
    n = pool_docs(base_docs)
    path = os.path.join(cache_root, f"s{POOL_SEED}-n{n}-v{vocab_size(base_docs)}-{src}")
    if os.path.exists(os.path.join(path, "meta.json")):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen_corpus.py")
    subprocess.run(
        [sys.executable, script, tmp, str(POOL_SEED), str(n), str(vocab_size(base_docs))],
        env=env, check=True, stdout=subprocess.DEVNULL, timeout=900,
    )
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def text_bytes(urls: list[str], texts: list[str]) -> dict[str, int]:
    """url -> UTF-8 bytes of its text."""
    return {u: len(t.encode("utf-8")) for u, t in zip(urls, texts)}


def ranked_terms(texts: list[str]) -> list[str]:
    """Corpus tokens by descending frequency (ties by token)."""
    toks, counts = np.unique(
        np.array(" ".join(texts).split(" "), dtype=object).astype(str),
        return_counts=True,
    )
    order = np.lexsort((toks, -counts))
    return [str(t) for t in toks[order]]


def _write(tbl, path: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    # microsecond timestamps: Spark cannot read parquet TIMESTAMP(NANOS)
    pq.write_table(tbl, path, coerce_timestamps="us", allow_truncated_timestamps=True)


def prepare_run_isolated(pool_dir: str, seed: int, base_docs: int, out_dir: str, env: dict) -> dict:
    """``prepare_run`` in a child process; returns its description."""
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), pool_dir, str(seed), str(base_docs), out_dir],
        env=env, check=True, timeout=600,
    )
    with open(os.path.join(out_dir, "meta.json")) as f:
        return json.load(f)


def prepare_run(pool_dir: str, seed: int, base_docs: int, out_dir: str) -> dict:
    """Sample this run's corpus and batches from the pool into
    ``out_dir/base`` and ``out_dir/batches/batch=<i>``; returns the
    run's input description (sizes, term ranks, batch probes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with open(os.path.join(pool_dir, "meta.json")) as f:
        meta = json.load(f)
    pool = pq.read_table(os.path.join(pool_dir, "pool"))
    size = batch_docs(base_docs)
    rng = np.random.default_rng([seed, 0xC0])
    order = rng.permutation(pool.num_rows)
    base = pool.take(np.sort(order[:base_docs]))
    tail = pool.take(order[base_docs : base_docs + MAX_BATCHES * size])
    step = -(-base.num_rows // BASE_FILES)
    for i in range(BASE_FILES):
        _write(base.slice(i * step, step), os.path.join(out_dir, "base", f"part-{i}.parquet"))
    base_urls = base.column("url").to_pylist()
    base_text = text_bytes(base_urls, base.column("text").to_pylist())
    ranked = ranked_terms(base.column("text").to_pylist())
    rank = {t: i for i, t in enumerate(ranked)}
    recrawl = rng.choice(len(base_urls), size=MAX_BATCHES * size // 2, replace=False)
    batches = []
    for b in range(MAX_BATCHES):
        rows = tail.slice(b * size, size)
        urls = rows.column("url").to_pylist()
        new_url, new_text = urls[0], rows.column("text")[0].as_py()
        for j in range(size // 2, size):
            urls[j] = base_urls[int(recrawl[b * (size // 2) + j - size // 2])]
        rows = rows.set_column(
            rows.schema.get_field_index("url"), rows.schema.field("url"),
            pa.array(urls, pa.string()),
        )
        _write(rows, os.path.join(out_dir, "batches", f"batch={b}", "part-0.parquet"))
        added = text_bytes(urls, rows.column("text").to_pylist())
        batches.append(
            {
                "probe_url": new_url,
                "probe_terms": sorted(
                    set(new_text.split(" ")), key=lambda t: (-rank.get(t, len(rank)), t)
                )[:PROBE_TERMS],
                "text_bytes": sum(added.values()),
                "replaced_text_bytes": sum(base_text.get(u, 0) for u in added),
            }
        )
    return {
        "dir": out_dir,
        "pool_seed": meta["pool_seed"],
        "base_docs": base.num_rows,
        "batch_docs": size,
        "base_text_bytes": sum(base_text.values()),
        "head_terms": meta["head_terms"],
        "ranked_terms": ranked,
        "batches": batches,
    }


def probe_body(terms: list[str]) -> dict:
    """Matches only docs holding every one of ``terms``. The page is
    deep because neighbouring generated docs share most tokens, so a
    few dozen docs can hold all of them and outscore the new one."""
    return {
        "query": {
            "bool": {
                "should": [{"match": {"text": t}} for t in terms],
                "minimum_should_match": len(terms),
            }
        },
        "size": PROBE_SIZE,
    }


def make_bodies(seed: int, ranked: list[str], head_terms, count: int) -> list[dict]:
    """Seeded ES request bodies with a fixed composition, so every seed
    sends the same mix and only the terms differ. Body ``i`` has
    ``1 + i % 6`` terms; every 5th (``i % 5 == 0``) carries a head term
    (dense); ``i % 5 == 2`` is a ``bool`` of ``match`` should clauses
    with a seeded ``minimum_should_match``; ``i % 10 == 7`` asks for
    page 2-4 (``from``); the rest are plain ``match``. Other terms are
    drawn log-uniform over the frequency ranks past the 30 commonest,
    so most queries are selective."""
    rng = np.random.default_rng([seed, 0x5E4C])
    lo, hi = np.log(30), np.log(len(ranked))
    bodies = []
    for i in range(count):
        n = 1 + i % 6
        ranks = np.exp(rng.uniform(lo, hi, size=n)).astype(int)
        terms = [ranked[min(r, len(ranked) - 1)] for r in ranks]
        if i % HEAD_EVERY == 0:
            terms[0] = head_terms[int(rng.integers(0, len(head_terms)))]
        if i % 5 == 2 and n >= 2:
            body = {
                "query": {
                    "bool": {
                        "should": [{"match": {"text": t}} for t in terms],
                        "minimum_should_match": int(rng.integers(1, min(3, n) + 1)),
                    }
                },
                "size": PAGE_SIZE,
            }
        else:
            body = {"query": {"match": {"text": " ".join(terms)}}, "size": PAGE_SIZE}
            if i % 10 == 7:
                body["from"] = PAGE_SIZE * int(rng.integers(1, 4))
        bodies.append(body)
    return bodies


if __name__ == "__main__":
    a = sys.argv[1:]
    desc = prepare_run(a[0], int(a[1]), int(a[2]), a[3])
    with open(os.path.join(a[3], "meta.json"), "w") as f:
        json.dump(desc, f)
