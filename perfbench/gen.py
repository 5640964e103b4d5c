"""Seeded input generator for the four benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and an output
directory, writes its inputs there, and returns the input properties the
run records next to its metrics (row and file counts, dirty and
duplicate shares, keyword count). Row and file counts are fixed per
workload; the seed changes only the values, so two seeds do the same
amount of work.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The word list of the synthetic documents corpus the registry queries were
# written against: the quality gate's English stopwords ("the", "a") are in
# it, so lang-ID and the token-length band behave as on that corpus.
VOCAB = (
    "query row stream the spark line small fast group customer batch sort value "
    "hash filter big data dup part column order scan a slow agg key window "
    "table merge vector join"
).split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")
    return pa.array(days, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[i : i + ln]))
        i += ln
    return out


def documents_table(texts: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            # src0 is the eval split (every 20th doc), as in the registry
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_tables(rng: np.random.Generator, out: str, sf: float) -> dict:
    """The ten registry tables (TPC-H-ish star schema plus events,
    documents and embeddings) at scale factor ``sf``."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(50_000 * sf), int(15_000 * sf)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": _REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    }), f"{out}/orders.parquet")
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + rng.uniform(0, 1200.0, n_li)), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng),
    }), f"{out}/lineitem.parquet")
    _write(events_table(rng, n_ev, n_users, "2024-01-01", 30 * 86400), f"{out}/events.parquet")
    texts = _texts(rng, n_doc)
    for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[(i + 1) % n_doc]  # a few exact duplicates
    _write(documents_table(texts, rng), f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet")
    return {"sf": sf, "lineitem_rows": n_li, "orders_rows": n_ord, "events_rows": n_ev,
            "documents_rows": n_doc, "embeddings_rows": n_emb}


def events_table(
    rng: np.random.Generator, n: int, n_users: int, start: str, span_s: int
) -> pa.Table:
    t0 = np.datetime64(start, "us").astype("int64")
    ts = np.sort(t0 + rng.integers(0, span_s * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": _money(rng, 0.01, 500.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


# shares of the curation corpus rewritten as near-duplicates, exact
# duplicates, copies of eval documents, and documents too short to pass
CORPUS_SHARES = {"near_dup": 0.1, "exact_dup": 0.03, "contaminated": 0.02, "short": 0.03}


def gen_corpus(rng: np.random.Generator, out: str, n_docs: int) -> dict:
    """``documents.parquet`` for the curation chain: random-vocabulary
    documents with injected near-duplicates (one word of another document
    replaced), exact duplicates, train documents copied from the ``src0``
    eval split (contamination), and documents too short for the quality
    gate, at ``CORPUS_SHARES``."""
    os.makedirs(out, exist_ok=True)
    texts = _texts(rng, n_docs, lo=30, hi=100)
    n = n_docs
    # targets come from the train split; every copy is made from an
    # untouched train document (or, for contamination, an eval document),
    # so near-duplicate clusters are stars and the connected-components
    # iteration count does not drift with the seed
    eval_ids = np.arange(0, n, 20)
    train = rng.permutation(np.setdiff1d(np.arange(n), eval_ids))
    cuts = np.cumsum([int(n * share) for share in CORPUS_SHARES.values()])
    near, exact, cont, short = np.split(train[: cuts[-1]], cuts[:-1])
    originals = train[cuts[-1]:]

    def original() -> str:
        return texts[int(rng.choice(originals))]

    for i in near:
        words = original().split()
        words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(words)
    for i in exact:
        texts[i] = original()
    for i in cont:
        texts[i] = texts[int(rng.choice(eval_ids))]
    for i in short:
        texts[i] = " ".join(texts[i].split()[: int(rng.integers(1, 9))])
    _write(documents_table(texts, rng), f"{out}/documents.parquet")
    return {"documents_rows": n, "eval_rows": len(eval_ids),
            **{f"{k}_share": v for k, v in CORPUS_SHARES.items()}}


# shares of Reddit NDJSON lines of each kind; the rest are clean
REDDIT_SHARES = {
    "bad_json": 0.01,  # not JSON at all
    "missing_created_utc": 0.01,  # bad row
    "bad_created_utc": 0.01,  # not an integer: bad row
    "missing_field": 0.02,  # another field missing: defaults to ""
    "extra_keys": 0.1,  # unknown keys, ignored
    "string_created_utc": 0.05,  # digits in a string: valid
}
SUBREDDITS, ALLOW_SHARE, KEYWORD_SHARE = 200, 0.3, 0.15


def gen_reddit(
    rng: np.random.Generator, out: str, n_files: int, lines_per_file: int, n_keywords: int
) -> dict:
    """Reddit-submission NDJSON in ``.zst`` files (FIXTURES.md §1 schema)
    with dirty lines at ``REDDIT_SHARES``, plus a CSV subreddit allowlist
    and a keyword list that ``KEYWORD_SHARE`` of the lines contain."""
    os.makedirs(f"{out}/ndjson", exist_ok=True)
    subs = [f"Sub{i}" for i in range(SUBREDDITS)]
    allow = sorted(rng.choice(subs, int(SUBREDDITS * ALLOW_SHARE), replace=False))
    with open(f"{out}/subreddits.csv", "w") as f:
        f.write("subr\n" + "".join(f"{s.lower()}\n" for s in allow))
    # keywords: vocabulary-free tokens so the match yield is set by how
    # often the generator plants them, not by chance collisions
    keywords = [f"kw{i:04d}x" for i in range(n_keywords)]
    n = n_files * lines_per_file
    names = list(REDDIT_SHARES)
    kind = np.searchsorted(np.cumsum(list(REDDIT_SHARES.values())), rng.random(n), side="right")
    plant = rng.random(n) < KEYWORD_SHARE
    n_words = rng.integers(3, 40, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    created = rng.integers(1_500_000_000, 1_700_000_000, n)
    sub_idx = rng.integers(0, SUBREDDITS, n)
    upper = rng.random(n) < 0.3  # upper-cased subreddit and keyword
    counts = dict.fromkeys(names, 0)
    wi = 0
    for fi in range(n_files):
        lines = []
        for j in range(fi * lines_per_file, (fi + 1) * lines_per_file):
            body = " ".join(VOCAB[w] for w in words[wi : wi + n_words[j]])
            wi += n_words[j]
            title = f"post {j} " + body[: 40]
            if plant[j]:
                kw = keywords[int(rng.integers(0, n_keywords))]
                body += " " + (kw.upper() if upper[j] else kw)
            sub = subs[sub_idx[j]]
            obj = {"title": title, "selftext": body, "author": f"user{j % 977}",
                   "subreddit": sub.upper() if upper[j] else sub,
                   "created_utc": int(created[j]), "permalink": f"/r/{sub}/comments/{j:x}"}
            k = kind[j]
            if k < len(names):
                counts[names[k]] += 1
            if k == 0:
                lines.append(f"{{not json line {j}")
                continue
            if k == 1:
                del obj["created_utc"]
            elif k == 2:
                obj["created_utc"] = f"{created[j]}x"
            elif k == 3:
                del obj[("author", "permalink", "title")[j % 3]]
            elif k == 4:
                obj["score"] = int(j % 50)
                obj["edited"] = bool(j % 2)
            elif k == 5:
                obj["created_utc"] = str(created[j])
            lines.append(json.dumps(obj))
        data = ("\n".join(lines) + "\n").encode()
        with pa.CompressedOutputStream(f"{out}/ndjson/part-{fi:04d}.json.zst", "zstd") as s:
            s.write(data)
    shares = {k: round(v / n, 5) for k, v in counts.items()}
    return {"files": n_files, "lines": n, "keywords": n_keywords, "allowlist": len(allow),
            "subreddits": SUBREDDITS, **{f"{k}_share": v for k, v in shares.items()}}


STREAM_DUP_SHARE, STREAM_OOO_SHARE = 0.05, 0.1


def gen_stream(
    rng: np.random.Generator, out: str, n_files: int, rows_per_file: int,
    file_span_s: int, max_shift_files: int,
) -> dict:
    """Events re-landed as ``n_files`` small parquet files in arrival order.

    Each file covers ``file_span_s`` seconds of event time.
    ``STREAM_OOO_SHARE`` of the rows are moved up to ``max_shift_files``
    files later, and ``STREAM_DUP_SHARE`` duplicates (same ``event_id`` and
    ``ts``) land up to that many files after their original. Keep the shift
    inside the stream's watermark delay: then no first occurrence is late
    and the streamed result equals the batch one."""
    os.makedirs(f"{out}/landing", exist_ok=True)
    n = n_files * rows_per_file
    ev = events_table(rng, n, 1500, "2024-03-01", n_files * file_span_s)
    # tz-aware, so Spark reads TIMESTAMP (LTZ), which watermarks require
    ev = ev.set_column(1, "ts", ev["ts"].cast(pa.timestamp("us", tz="UTC")))
    slot = np.arange(n) // rows_per_file
    ooo = rng.random(n) < STREAM_OOO_SHARE
    slot = np.where(ooo, np.minimum(slot + rng.integers(1, max_shift_files + 1, n), n_files - 1), slot)
    dup_src = rng.choice(n, int(n * STREAM_DUP_SHARE), replace=False)
    dup_slot = np.minimum(slot[dup_src] + rng.integers(0, max_shift_files + 1, len(dup_src)),
                          n_files - 1)
    rows = np.concatenate([np.arange(n), dup_src])
    slots = np.concatenate([slot, dup_slot])
    order = np.argsort(slots, kind="stable")
    rows, slots = rows[order], slots[order]
    bounds = np.searchsorted(slots, np.arange(n_files + 1))
    for fi in range(n_files):
        part = ev.take(pa.array(rows[bounds[fi] : bounds[fi + 1]]))
        _write(part, f"{out}/landing/part-{fi:05d}.parquet")
        # distinct mtimes keep the file source's arrival order = file order
        t = 1_700_000_000 + fi
        os.utime(f"{out}/landing/part-{fi:05d}.parquet", (t, t))
    return {"files": n_files, "rows": int(len(rows)), "distinct_rows": n,
            "dup_share": STREAM_DUP_SHARE, "out_of_order_share": STREAM_OOO_SHARE,
            "file_span_s": file_span_s}
