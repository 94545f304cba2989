"""Seeded input generator for the graft benchmark.

Writes the inputs of every workload under one directory; the program only
ever sees these parquet files:

  <out>/sf/<table>.parquet           the ten test tables (TESTDATA.md
                                     shape: TPC-H-ish star schema, events,
                                     documents, embeddings) at scale SF
  <out>/sf_annotate/<table>.parquet  the same tables at SF_ANNOTATE
  <out>/corpus/documents.parquet     a near-duplicate corpus grown from the
                                     sf documents by the Stress.generate
                                     recipe (exact copies, every-13th-word
                                     mutants, tripled long distinct docs,
                                     distinct docs, one HOT_COPIES-copy hot
                                     doc, 80% of docs on one source)
  <out>/stream/chunkNN.parquet       the corpus as doc_id-range chunks, one
                                     per micro-batch of the curation replay

Every value derives from the seed, and row counts do not depend on it,
so two seeds give inputs of the same size and shape.

  python3 graftbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1                  # tidy_sf01 tables
SF_ANNOTATE = 0.005       # annotate_sf01 tables
CORPUS_BASE_DOCS = 200    # sf documents the corpus is grown from
CORPUS_REPS = 20          # per base doc: 4 exact, 4 near, 4 long, 8 distinct
HOT_COPIES = 1000         # fires the LSH / SimHash hot-bucket guards (> 64)
STREAM_CHUNKS = 3         # micro-batches of the curation replay

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return (base + (np.asarray(seconds) * 1_000_000).astype("timedelta64[us]")
            ).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # 5% near-duplicates: another doc's text plus one trailing token
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return texts


def gen_sf(rng, out, sf):
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    tus = pa.timestamp("us")

    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": pa.array(REGIONS, s)}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)], s),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    }), f"{out}/supplier.parquet")
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n_part)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1), f64),
    }), f"{out}/part.parquet")
    day = 86_400
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(_ts("1995-01-01", rng.integers(0, 2404, n_ord) * day), tus),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)], s),
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)], s),
        "l_shipdate": pa.array(_ts("1995-01-02", rng.integers(0, 2498, n_li) * day), tus),
    }), f"{out}/lineitem.parquet")
    ev_secs = np.sort(rng.uniform(0, 30 * day, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(_ts("2024-01-01", ev_secs), tus),
        "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_ev), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)], s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    }), f"{out}/events.parquet")
    texts = _doc_texts(rng, n_docs)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }), f"{out}/documents.parquet")
    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }), f"{out}/embeddings.parquet")


def gen_corpus(sf_dir, out):
    """Stress.generate's per-doc recipe over the first CORPUS_BASE_DOCS
    sf documents; ids are r * base + doc_id, the hot copies follow."""
    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(f"{sf_dir}/documents.parquet").slice(0, CORPUS_BASE_DOCS)
    base_ids = docs.column("doc_id").to_pylist()
    base_txt = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    sources = docs.column("source").to_pylist()
    ids, texts, lang, source = [], [], [], []
    for r in range(CORPUS_REPS):
        for d, t, lg, src in zip(base_ids, base_txt, langs, sources):
            ws = t.split(" ")
            kind = r % 5
            if kind == 0:
                txt = t
            elif kind == 1:
                txt = " ".join(f"mut{r}" if i % 13 == 0 else w for i, w in enumerate(ws))
            else:
                distinct = " ".join(f"{w}_{r}" for w in ws)
                txt = " ".join([distinct] * 3) if kind == 2 else distinct
            ids.append(r * CORPUS_BASE_DOCS + d)
            texts.append(txt)
            lang.append(lg)
            source.append("web" if d % 10 < 8 else src)
    hot_id0 = CORPUS_REPS * CORPUS_BASE_DOCS
    for k in range(HOT_COPIES):
        ids.append(hot_id0 + k)
        texts.append(base_txt[0])
        lang.append(langs[0])
        source.append("web")
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")


def gen_stream(corpus_dir, out, n_chunks=STREAM_CHUNKS):
    """The corpus as doc_id-range chunk files of (doc_id, text), with
    increasing modification times so a file stream reads them in order."""
    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(f"{corpus_dir}/documents.parquet", columns=["doc_id", "text"])
    ids = docs.column("doc_id").to_numpy()
    step = int(ids.max()) // n_chunks + 1
    for i in range(n_chunks):
        mask = (ids >= i * step) & (ids < (i + 1) * step)
        path = f"{out}/chunk{i:02d}.parquet"
        _write(docs.filter(pa.array(mask)), path)
        t = 1_000_000_000 + 60 * i
        os.utime(path, (t, t))


def main(out_dir, seed):
    rng = np.random.default_rng(seed)
    gen_sf(rng, f"{out_dir}/sf", SF)
    gen_sf(rng, f"{out_dir}/sf_annotate", SF_ANNOTATE)
    gen_corpus(f"{out_dir}/sf", f"{out_dir}/corpus")
    gen_stream(f"{out_dir}/corpus", f"{out_dir}/stream")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
