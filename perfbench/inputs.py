"""Seeded workload inputs, their reference outputs and the on-disk cache.

Every input is a pure function of (workload, seed, size). Building one
costs far more than reading it back (the pure-Python oracle runs at about
300 us/doc), so each (workload, seed, size) is built once and kept under
the cache root as:

    input/       parquet the timed operations read (written with pyarrow,
                 so no Spark session is needed to prepare it)
    reference    the expected output, one sorted tab-separated line per
                 row; its sha256 is the digest every operation must match
    meta.json    sizes and counts, written last (its presence marks the
                 entry complete)

Nothing here imports pyspark.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import timedelta, timezone
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator or a reference changes, so stale cache entries
# are never read
CACHE_VERSION = 4
INPUT_FILES = 8

# near-dup clusters: Pareto(alpha) sizes from 2, capped
CLUSTER_ALPHA = 1.3
CLUSTER_CAP = 40
CLUSTER_WORDS = 40

EMBED_DIM = 64
EMBED_K = 10
EMBED_PLANTED = 8  # planted near neighbours per query

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
LABEL_COLS = ["url", "keep", "drop_reason", "scrubbed_text"]


def digest(lines: list[str]) -> str:
    """Order-independent digest of output lines."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def label_line(url, keep, drop_reason, scrubbed_text) -> str:
    md5 = (
        "-"
        if scrubbed_text is None
        else hashlib.md5(scrubbed_text.encode("utf-8")).hexdigest()
    )
    return f"{url}\t{bool(keep)}\t{drop_reason or '-'}\t{md5}"


def label_lines_of_table(table: pa.Table) -> list[str]:
    cols = [table.column(c).to_pylist() for c in LABEL_COLS]
    return [label_line(*row) for row in zip(*cols)]


def topk_line(query_id, rank, neighbor_id, cosine) -> str:
    return f"{query_id}\t{rank}\t{neighbor_id}\t{cosine:.6f}"


# ---------------------------------------------------------------- pages


def _drop_shared_prefix(rows: list[dict], n_words: int = 30) -> list[dict]:
    """Remove rows whose opening words are shared by two or more DISTINCT
    texts. That is the fixture's single near_dup base (one clique of ~4%
    of all pages); exact duplicates share one text and are kept."""
    texts_by_prefix: dict[str, set[str]] = {}
    for r in rows:
        if r["text"]:
            prefix = " ".join(r["text"].split()[:n_words])
            texts_by_prefix.setdefault(prefix, set()).add(r["text"])
    shared = {p for p, texts in texts_by_prefix.items() if len(texts) > 1}
    return [
        r
        for r in rows
        if not r["text"] or " ".join(r["text"].split()[:n_words]) not in shared
    ]


def _html(text: str | None) -> bytes | None:
    if text is None:
        return None
    return b"<html><body>" + text.encode("utf-8", "replace") + b"</body></html>"


def _member_text(words: list[str], slots: list[int], j: int) -> str:
    """The j-th cluster member: member 0 is the cluster text itself, member
    j > 0 has one lowercase ASCII word upper-cased. Shingling lowercases,
    so every member has the same shingle set (Jaccard 1 under either
    MinHash hash family) while its md5 differs, so exact content dedup
    leaves it to near-dedup."""
    out = list(words)
    if j:
        at = slots[(j - 1) % len(slots)]
        out[at] = out[at].upper()
    return " ".join(out)


def near_dedup_rows(seed: int, n_docs: int) -> list[dict]:
    """Exactly n_docs pages: the fixture's defect mix (minus its near_dup
    clique) plus planted near-dup clusters with Pareto sizes capped at
    CLUSTER_CAP, holding about half of all docs. A cluster's text is the
    first CLUSTER_WORDS words of a fixture page, which the cluster
    replaces: left in, the page would share most of its shingles with the
    cluster and sit near the similarity threshold, where two MinHash hash
    families may decide differently."""
    from dataqualitykit_spark.fixtures import generate_pages

    rng = random.Random(f"near_dedup:{seed}")
    pages = _drop_shared_prefix(generate_pages(n_docs * 3 // 5, seed))
    bases = [
        r
        for r in pages
        if r["text"]
        and r["text"].isascii()
        and len(r["text"].split()) >= CLUSTER_WORDS
    ]
    rng.shuffle(bases)
    used: set[int] = set()
    planted: list[dict] = []
    for cid, base in enumerate(bases):
        # a cluster of `size` replaces one page: the total grows by size-1
        missing = n_docs - (len(pages) - len(used) + len(planted))
        if missing <= 0:
            break
        words = base["text"].split()[:CLUSTER_WORDS]
        slots = [i for i, w in enumerate(words) if w.isalpha() and w.islower()]
        size = int(2 / (1.0 - rng.random()) ** (1.0 / CLUSTER_ALPHA))
        size = min(size, CLUSTER_CAP, len(slots) + 1, missing + 1)
        used.add(id(base))
        for j in range(size):
            text = _member_text(words, slots, j)
            planted.append(
                {
                    "url": f"https://mirror-{cid % 7}.example/{seed}/{cid}/{j}",
                    "warc_ts": base["warc_ts"] + timedelta(hours=j),
                    "html": _html(text),
                    "text": text,
                    "lang": base["lang"],
                }
            )
    rows = [r for r in pages if id(r) not in used] + planted
    if len(rows) != n_docs:
        raise ValueError(f"near_dedup input has {len(rows)} docs, not {n_docs}")
    return rows


def _pages_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(
        [
            {**r, "warc_ts": r["warc_ts"].replace(tzinfo=timezone.utc)}
            for r in rows
        ],
        schema=PAGES_SCHEMA,
    )


def near_dedup_reference(rows: list[dict], cfg) -> list[str]:
    from dataqualitykit_spark.oracle import run_oracle

    return [
        label_line(r.url, r.keep, r.drop_reason, r.scrubbed_text)
        for r in run_oracle(rows, cfg)
    ]


# ---------------------------------------------------------------- vectors


def embed_arrays(seed: int, n_corpus: int, n_query: int):
    """(corpus, queries) float64 matrices; each query has EMBED_PLANTED
    corpus rows planted close to it, the rest are isotropic noise."""
    rng = np.random.default_rng(seed)
    queries = rng.standard_normal((n_query, EMBED_DIM))
    corpus = rng.standard_normal((n_corpus, EMBED_DIM))
    at = rng.choice(n_corpus, size=n_query * EMBED_PLANTED, replace=False)
    corpus[at] = np.repeat(queries, EMBED_PLANTED, axis=0) + 0.2 * rng.standard_normal(
        (len(at), EMBED_DIM)
    )
    return corpus, queries


def _spark_round6(x: float) -> float:
    """Spark's round(double, 6): HALF_UP on the double's decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _fold_norms(m: np.ndarray) -> np.ndarray:
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for d in range(m.shape[1]):
        acc = acc + m[:, d] * m[:, d]
    return np.sqrt(acc)


def topk_reference(corpus, queries, query_ids, k: int = EMBED_K) -> list[str]:
    """Top-k by cosine with a left-to-right loop over dimensions (the
    accumulation order of the library's fold), ranked on the value
    rounded to 6 decimals, ties broken by the lower neighbour id."""
    dot = np.zeros((corpus.shape[0], queries.shape[0]), dtype=np.float64)
    for d in range(corpus.shape[1]):
        dot = dot + corpus[:, d : d + 1] * queries[None, :, d]
    cos = dot / (_fold_norms(queries)[None, :] * _fold_norms(corpus)[:, None])
    # pre-select generously on the raw value, then rank exactly
    shortlist = np.argpartition(-cos, k + 16, axis=0)[: k + 16]
    lines = []
    for j, qid in enumerate(query_ids):
        cand = sorted(
            ((_spark_round6(float(cos[i, j])), int(i)) for i in shortlist[:, j]),
            key=lambda t: (-t[0], t[1]),
        )
        lines += [
            topk_line(qid, rank, nid, c)
            for rank, (c, nid) in enumerate(cand[:k], start=1)
        ]
    return lines


# ---------------------------------------------------------------- cache


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _write_entry(tmp: str, tables: dict[str, pa.Table], ref: list[str], meta: dict):
    for name, table in tables.items():
        os.makedirs(os.path.join(tmp, name))
        # several files, so that Spark scans them with several tasks
        step = -(-table.num_rows // INPUT_FILES)
        for i in range(INPUT_FILES):
            part = table.slice(i * step, step)
            pq.write_table(part, os.path.join(tmp, name, f"part-{i}.parquet"))
    with open(os.path.join(tmp, "reference"), "w", encoding="utf-8") as f:
        f.write("\n".join(sorted(ref)) + "\n")
    meta = {
        **meta,
        "digest": digest(ref),
        "input_bytes": sum(_parquet_bytes(os.path.join(tmp, n)) for n in tables),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)


def build(workload: str, seed: int, size: dict, cfg=None) -> tuple[dict, list[str]]:
    """(tables, reference lines) for one workload input, without caching."""
    if workload == "near_dedup":
        rows = near_dedup_rows(seed, size["docs"])
        return {"input": _pages_table(rows)}, near_dedup_reference(rows, cfg)
    if workload == "embed_topk":
        corpus, queries = embed_arrays(seed, size["corpus"], size["queries"])
        n = size["corpus"]
        query_ids = list(range(n, n + size["queries"]))
        schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64()))])

        def table(ids, m):
            return pa.Table.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(list(m), pa.list_(pa.float64()))],
                schema=schema,
            )

        tables = {
            "corpus": table(list(range(n)), corpus),
            "queries": table(query_ids, queries),
        }
        return tables, topk_reference(corpus, queries, query_ids)
    raise ValueError(f"unknown workload {workload!r}")


def cached(cache_root: str, workload: str, seed: int, size: dict, cfg=None) -> dict:
    """Path and metadata of the cached input, building it on a miss."""
    key = "-".join([workload, f"s{seed}"] + [f"{k}{v}" for k, v in sorted(size.items())])
    path = os.path.join(cache_root, f"v{CACHE_VERSION}", key)
    if not os.path.exists(os.path.join(path, "meta.json")):
        tables, ref = build(workload, seed, size, cfg)
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rows = tables["input" if "input" in tables else "corpus"].num_rows
        _write_entry(tmp, tables, ref, {"rows": rows, "size": size, "seed": seed})
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    return {**meta, "path": path}


def reference_lines(entry: dict) -> list[str]:
    with open(os.path.join(entry["path"], "reference"), encoding="utf-8") as f:
        return f.read().splitlines()
