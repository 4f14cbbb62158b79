"""Seeded input generation and output checks for the perf benchmark.

Everything here is plain Python + pyarrow: inputs are written once per
benchmark invocation, before any timed Spark process starts, so input
generation never costs a JVM start and never counts as set-up time.

- Job-path inputs (source corpus, entity index, sameAs edges) come from
  `datagen`'s list generators, which also emit the planted truth: for every
  non-empty file, the (label -> qnode) mentions the generator wrote into it.
- Operator-board inputs are the tables the `queries.QUERIES` entries read
  (documents, embeddings, events, supplier, nation, part), with planted
  exact and near duplicates so the dedup operators have work to find.
"""

from __future__ import annotations

import hashlib
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(rows: list[dict], schema: pa.Schema, path: str, n_files: int = 1) -> None:
    """Write rows as `n_files` parquet files under directory `path`, so the
    scan gets one split per file instead of one split for the table."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * step:(i + 1) * step]
        if chunk:
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=schema),
                os.path.join(path, f"part-{i:03d}.parquet"),
            )


class _RowsOnly:
    """Stand-in session whose createDataFrame returns its data, so
    `datagen` helpers that build their rows in Python can be reused here
    without starting a JVM."""

    def createDataFrame(self, data, schema=None):  # noqa: N802 (Spark API name)
        return data


def _canonical(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find over sameAs edges; each node maps to its component's
    minimum member id (the representative connected_components picks)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in list(parent)}


def job_inputs(out_dir: str, n_files: int, n_entities: int, seed: int,
               n_batches: int = 0) -> dict:
    """Source corpus of exactly n_files files + entity index + sameAs edges
    + planted truth.

    n_batches == 0 writes the corpus as one table (`source/`); otherwise
    it is cut into n_batches backlog files under `backlog/`, one file per
    streaming micro-batch. Returns sizes for the report."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from wikidata_wikifier_spark import datagen
    from wikidata_wikifier_spark.schemas import ENTITY_INDEX, SOURCE_REPOS

    # ~4 files per repo; generate enough repos, then keep the first n_files
    # so the corpus size (and the triple count) does not vary with the seed
    source, golden = datagen.source_repo_rows(n_files // 3 + 10, n_entities, seed)
    source = source[:n_files]
    kept = {(r["repo"], r["path"]) for r in source}
    golden = [g for g in golden if (g["repo"], g["path"]) in kept]
    entities = datagen.entity_rows(n_entities, seed)
    edges = datagen.alias_edges_df(_RowsOnly(), n_entities)

    # a backlog is one file per micro-batch (the stream reads
    # maxFilesPerTrigger=1); a batch table is split so the scan is parallel
    _write(source, to_arrow_schema(SOURCE_REPOS),
           os.path.join(out_dir, "backlog" if n_batches else "source"),
           n_files=n_batches or 8)
    _write(entities, to_arrow_schema(ENTITY_INDEX), os.path.join(out_dir, "index"))
    _write([{"src": a, "dst": b} for a, b in edges],
           pa.schema([("src", pa.string()), ("dst", pa.string())]),
           os.path.join(out_dir, "edges"))

    canon = _canonical(edges)
    sha = {(r["repo"], r["path"]): hashlib.sha256(r["content"].encode()).hexdigest()
           for r in source}
    truth = sorted({
        (canon.get(g["qnode"], g["qnode"]),
         f"{g['repo']}:{g['path']}@{sha[(g['repo'], g['path'])]}")
        for g in golden
    })
    _write([{"subj": s, "obj": o} for s, o in truth],
           pa.schema([("subj", pa.string()), ("obj", pa.string())]),
           os.path.join(out_dir, "truth"))
    return {"files": len(source), "entities": n_entities,
            "edges": len(edges), "planted_links": len(truth)}


_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join index node edge graph label entity alias score rank model"
).split()


def board_inputs(out_dir: str, n_docs: int, n_vecs: int, n_events: int,
                 n_parts: int, seed: int) -> dict:
    """The tables the operator-board queries read, seeded."""
    from wikidata_wikifier_spark.datagen import ADJ, NOUN

    rng = np.random.RandomState(seed)
    sf = os.path.join(out_dir, "board")
    os.makedirs(sf)

    docs: list[dict] = []
    for i in range(n_docs):
        r = rng.rand()
        if i > 10 and r < 0.04:  # exact duplicate of an earlier doc
            text = docs[rng.randint(i)]["text"]
        elif i > 10 and r < 0.16:  # near duplicate: a few words swapped
            words = docs[rng.randint(i)]["text"].split()
            for j in rng.choice(len(words), size=max(1, len(words) // 30), replace=False):
                words[j] = _WORDS[rng.randint(len(_WORDS))]
            text = " ".join(words)
        else:
            text = " ".join(_WORDS[k] for k in rng.randint(len(_WORDS), size=rng.randint(8, 90)))
        docs.append({
            "doc_id": i, "text": text,
            "lang": ["en", "en", "es", "fr", "de", "zh"][rng.randint(6)],
            "source": f"src{rng.randint(20)}", "n_chars": len(text),
        })
    pq.write_table(pa.Table.from_pylist(docs), os.path.join(sf, "documents.parquet"))

    dim = 64
    centers = rng.randn(10, dim)
    labels = rng.randint(10, size=n_vecs)
    vecs = (centers[labels] + rng.randn(n_vecs, dim) * 0.6).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), os.path.join(sf, "embeddings.parquet"))

    gaps = rng.exponential(240.0, size=n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps * 1e6).astype("timedelta64[us]")
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.randint(max(2, n_events // 60), size=n_events).astype(np.int64)),
        "event_type": pa.array([["view", "click", "purchase", "signup", "error"][k]
                                for k in rng.randint(5, size=n_events)]),
        "value": pa.array(np.round(rng.exponential(20.0, size=n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(100, size=n_events)]),
    }), os.path.join(sf, "events.parquet"))

    n_supp = max(10, n_parts // 20)
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.randint(25, size=n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=n_supp), 2)),
    }), os.path.join(sf, "supplier.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }), os.path.join(sf, "nation.parquet"))
    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(n_parts, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.randint(len(ADJ), size=n_parts), rng.randint(len(NOUN), size=n_parts))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.randint(1, 26, size=n_parts)]),
        "p_type": pa.array([["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"][k]
                            for k in rng.randint(6, size=n_parts)]),
        "p_size": pa.array(rng.randint(1, 51, size=n_parts).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_parts) * 0.1, 2)),
    }), os.path.join(sf, "part.parquet"))
    return {"docs": n_docs, "vectors": n_vecs, "events": n_events,
            "parts": n_parts, "suppliers": n_supp}


# ---------------------------------------------------------------- checks

def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def triple_outputs(out_dir: str) -> list[str]:
    """Every write_triples output directory under a run's output dir: the
    dir itself for a batch job, one per micro-batch for a stream."""
    if os.path.isdir(os.path.join(out_dir, "_manifest")):
        return [out_dir]
    return sorted(os.path.join(out_dir, d) for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d, "_manifest")))


def triple_digest(out_dir: str) -> str:
    """Order-insensitive digest of everything written: the sum of the
    manifest's per-partition triples_digest values."""
    total = Decimal(0)
    for d in triple_outputs(out_dir):
        col = pq.read_table(os.path.join(d, "_manifest"), columns=["triples_digest"])
        total += sum((v for v in col.column(0).to_pylist() if v is not None), Decimal(0))
    return str(total)


def output_bytes(out_dir: str) -> int:
    """Bytes of triples/ plus _manifest/ across every output dir."""
    return sum(_dir_bytes(os.path.join(d, sub))
               for d in triple_outputs(out_dir) for sub in ("triples", "_manifest"))


def link_quality(out_dir: str, inputs_dir: str) -> tuple[float, float]:
    """(precision, recall) of the written P:mentionedIn triples against the
    generator's planted (file -> canonical qnode) truth."""
    truth_t = pq.read_table(os.path.join(inputs_dir, "truth"))
    truth = set(zip(truth_t.column("subj").to_pylist(), truth_t.column("obj").to_pylist()))
    got: set[tuple[str, str]] = set()
    for d in triple_outputs(out_dir):
        t = pq.read_table(os.path.join(d, "triples"), columns=["subj", "pred", "obj"])
        got.update(
            (s, o) for s, p, o in zip(t.column("subj").to_pylist(),
                                      t.column("pred").to_pylist(),
                                      t.column("obj").to_pylist())
            if p == "P:mentionedIn"
        )
    hit = len(got & truth)
    return hit / max(len(got), 1), hit / max(len(truth), 1)
