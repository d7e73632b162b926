"""Seeded inputs for the benchmark: the star-schema corpus, the NSForest
results batches and the ingest deltas.

The corpus has the schema of the engine's test tables (TESTDATA.md) and
their value shapes: integer-cent money columns, day-granular dates,
template text with ~5% near-duplicate documents, 64-dim float32
embeddings. It is a pure function of ``(sf, CORPUS_SEED)`` and is built
once per checkout; ``--seed`` drives everything that varies per run
(batches, deltas, request order), never the corpus itself.
``compare_corpus.py`` checks it against a reference corpus by the rows,
Spark counters and first-call times of each MIX query.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CORPUS_SEED = 42
CORPUS_VERSION = 1  # bump when the generator's output changes

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _sizes(sf: float) -> dict[str, int]:
    n = lambda base, floor=1: max(floor, int(round(base * sf)))  # noqa: E731
    return {
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _days(rng, lo: str, hi: str, size: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(a, b + 1, size)
    return (days * 86_400_000_000).astype("datetime64[us]")


def _cents(rng, lo: int, hi: int, size: int) -> np.ndarray:
    return rng.integers(lo, hi + 1, size) / 100.0


def _pick(rng, values: list[str], size: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), size)]


def _doc_text(rng) -> str:
    return " ".join(_pick(rng, WORDS, int(rng.integers(10, 101))))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def lineitem_rows(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    """``n`` lineitem rows for orders ``[0, n_orders)``."""
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
            "l_extendedprice": pa.array(_cents(rng, 90_000, 10_500_000, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n)),
            "l_linestatus": pa.array(_pick(rng, ["O", "F"], n)),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n)),
        }
    )


def document_rows(ids: np.ndarray, texts: list[str], rng) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(_pick(rng, LANGS, len(ids))),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate(out_dir: str, sf: float, seed: int = CORPUS_SEED) -> dict[str, int]:
    """Write the ten corpus tables as ``{out_dir}/{table}.parquet``."""
    rng = np.random.default_rng(seed)
    n = _sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        f"{out_dir}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        f"{out_dir}/nation.parquet",
    )
    c = n["customer"]
    _write(
        pa.table(
            {
                "c_custkey": pa.array(range(c), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
                "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
                "c_acctbal": pa.array(_cents(rng, -99_999, 999_999, c)),
                "c_mktsegment": pa.array(_pick(rng, SEGMENTS, c)),
            }
        ),
        f"{out_dir}/customer.parquet",
    )
    s = n["supplier"]
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(range(s), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
                "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
                "s_acctbal": pa.array(_cents(rng, -99_999, 999_999, s)),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )
    p = n["part"]
    _write(
        pa.table(
            {
                "p_partkey": pa.array(range(p), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(_pick(rng, PART_ADJ, p), _pick(rng, PART_NOUN, p))
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{i}" for i in rng.integers(1, 26, p)]
                ),
                "p_type": pa.array(_pick(rng, PART_TYPES, p)),
                "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
                "p_retailprice": pa.array([900.0 + (i % 1000) / 10 for i in range(p)]),
            }
        ),
        f"{out_dir}/part.parquet",
    )
    o = n["orders"]
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(range(o), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
                "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], o)),
                "o_totalprice": pa.array(_cents(rng, 100_000, 50_000_000, o)),
                "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", o)),
                "o_orderpriority": pa.array(_pick(rng, PRIORITIES, o)),
            }
        ),
        f"{out_dir}/orders.parquet",
    )
    _write(lineitem_rows(rng, n["lineitem"], o, p, s), f"{out_dir}/lineitem.parquet")
    e = n["events"]
    gaps = rng.integers(1, int(30 * 86_400e6 / e) * 2, e)
    _write(
        pa.table(
            {
                "event_id": pa.array(range(e), pa.int64()),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
                ),
                "user_id": pa.array(rng.integers(0, max(1, c // 10), e), pa.int64()),
                "event_type": pa.array(_pick(rng, EVENT_TYPES, e)),
                "value": pa.array(_cents(rng, 1, 49_002, e)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
            }
        ),
        f"{out_dir}/events.parquet",
    )
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(rng))
    _write(document_rows(np.arange(d), texts, rng), f"{out_dir}/documents.parquet")
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (m, 64))).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(range(m), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
    return n


def ensure_corpus(work_dir: str, sf: float) -> str:
    """Build the corpus for ``sf`` once per work dir; return its path.
    The build goes to a temp dir renamed into place, so an interrupted
    build is never mistaken for a finished one."""
    final = os.path.join(work_dir, f"corpus-v{CORPUS_VERSION}-sf{sf:g}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    sizes = generate(tmp, sf)
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        json.dump(sizes, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


# ---------------------------------------------------------------------------
# Per-run inputs (driven by --seed)
# ---------------------------------------------------------------------------

GENE_POOL = [f"G{i:04d}" for i in range(2000)]


def nsforest_batch(rng, path: str, tag: str, n_clusters: int) -> dict:
    """Write one NSForest results CSV (FIXTURES.md section 1) and return
    the answers the typed paths over its graph must give: for every
    cluster kept by the size-10 filter, its marker genes and binary
    genes. About one cluster in eight falls below the filter."""
    header = (
        "clusterName,clusterSize,f_score,precision,TP,FP,FN,TN,marker_count,"
        "NSForest_markers,binary_genes,dataset_version_id"
    )
    lines = [header]
    markers: dict[str, list[str]] = {}
    binary: dict[str, list[str]] = {}
    datasets: dict[str, str] = {}
    for i in range(n_clusters):
        name = f"K{tag}x{i:04d}"
        size = int(rng.integers(1, 10)) if rng.random() < 0.125 else int(rng.integers(10, 40_000))
        genes = rng.choice(len(GENE_POOL), int(rng.integers(2, 9)), replace=False)
        mk = [GENE_POOL[g] for g in genes[:2 + int(rng.integers(0, 2))]]
        bg = [GENE_POOL[g] for g in genes[len(mk):]] or [GENE_POOL[genes[-1]]]
        dv = f"dv{tag}x{int(rng.integers(0, 4))}"
        tp, fp, fn, tn = (int(x) for x in rng.integers(1, 100_000, 4))
        lines.append(
            f"{name},{size},{rng.random():.9f},{rng.random():.9f},{tp},{fp},{fn},{tn},"
            f"{len(mk)},\"{mk!r}\",\"{bg!r}\",{dv}"
        )
        if size >= 10:
            markers[name], binary[name], datasets[name] = mk, bg, dv
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return {"rows": n_clusters, "markers": markers, "binary": binary, "datasets": datasets}


def stage_delta(rng, live_dir: str, stage_dir: str, frac: float = 0.01) -> dict:
    """Write replacement ``documents`` and ``lineitem`` files to
    ``stage_dir`` that add ~``frac`` new rows each: documents that
    near-duplicate existing ones and lineitem rows for existing orders.
    Returns the tables staged and the rows added; ``commit_delta`` lands
    them in ``live_dir``."""
    os.makedirs(stage_dir, exist_ok=True)
    docs = pq.read_table(f"{live_dir}/documents.parquet")
    n_new = max(1, int(docs.num_rows * frac))
    src = rng.integers(0, docs.num_rows, n_new)
    old_text = docs.column("text").to_pylist()
    texts = []
    for j in src:
        words = old_text[j].split(" ")
        words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts.append(" ".join(words) + " dup")
    next_id = int(pc.max(docs.column("doc_id")).as_py()) + 1
    new_docs = document_rows(np.arange(next_id, next_id + n_new), texts, rng)
    _write(pa.concat_tables([docs, new_docs]), f"{stage_dir}/documents.parquet")

    li = pq.read_table(f"{live_dir}/lineitem.parquet")
    n_li = max(1, int(li.num_rows * frac))
    n_orders = pq.read_metadata(f"{live_dir}/orders.parquet").num_rows
    n_part = pq.read_metadata(f"{live_dir}/part.parquet").num_rows
    n_supp = pq.read_metadata(f"{live_dir}/supplier.parquet").num_rows
    new_li = lineitem_rows(rng, n_li, n_orders, n_part, n_supp)
    _write(pa.concat_tables([li, new_li]), f"{stage_dir}/lineitem.parquet")
    return {"tables": ["documents", "lineitem"], "rows": n_new + n_li}


def commit_delta(live_dir: str, stage_dir: str, tables: list[str]) -> None:
    for t in tables:
        os.replace(f"{stage_dir}/{t}.parquet", f"{live_dir}/{t}.parquet")
