"""Correctness checks of one benchmark run, made after the timed section.

Every operation's full result (the DataFrame it returned in the last
timed round, materialised once more by the harness's untimed check step
into <work>/results/<operation>) is compared with DuckDB running graft's own
oracle SQL (`SparkEntry.oracleSql`) over the same parquet inputs, with
tools/check.py's dtype-strict normalisation. Operations without an oracle
are checked against properties their method guarantees. The export and
store phases are checked against properties too. DuckDB's results are
cached under graftbench/cache, keyed by the input files' bytes and the
SQL text; they are never taken from graft's output.
"""
import decimal
import functools
import glob
import hashlib
import importlib.util
import math
import os
import zlib

import duckdb
import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, "cache", "oracle")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
REFERENCE = ["q1_seg_pct", "q2_topnation_share", "q3_name_stats",
             "q4_rank_nations", "q5_word_count", "q6_orders_per_cust"]
STORE_PREFIX = {"gram_index": "graft_gram_index", "bloom_store": "graft_bloom_store",
                "text_index": "graft_text_index", "corpus_profile": "graft_corpus_profile"}
STORE_BODIES = {"gram_index": ["grams", "hashes"], "text_index": ["postings", "vocab", "doclen"],
                "corpus_profile": ["rows"]}
# the default batch a store-backed query leaves out of its store
DEFAULT_DELTA = "src19"
# CorpusProfile's HLL sketch size (lgK = 12)
HLL_RSE = 1.04 / math.sqrt(4096)


@functools.lru_cache(maxsize=None)
def _tools_check():
    spec = importlib.util.spec_from_file_location(
        "graft_tools_check", os.path.join(ROOT, "tools", "check.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """tools/check.py's normalisation: columns by name, rows by value."""
    return _tools_check().norm(df)


def read_parquet_dir(path: str):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _hashable(df: pd.DataFrame) -> pd.DataFrame:
    """Array cells (list columns) as tuples, so rows can be sorted."""
    def conv(v):
        return tuple(conv(x) for x in v) if hasattr(v, "__len__") and not isinstance(
            v, (str, bytes)) else v
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object and any(
                hasattr(v, "__len__") and not isinstance(v, (str, bytes)) for v in df[c]):
            df[c] = df[c].map(conv)
    return df


def compare(got: pd.DataFrame, want: pd.DataFrame):
    """None when equal, cell for cell and dtype for dtype, after sorting
    columns by name and rows by every value; else what differs."""
    got, want = norm(_hashable(got)), norm(_hashable(want))
    if list(got.columns) != list(want.columns) or got.shape != want.shape:
        return f"shape {got.shape} {list(got.columns)} != {want.shape} {list(want.columns)}"
    drift = [(c, str(got[c].dtype), str(want[c].dtype))
             for c in got.columns if str(got[c].dtype) != str(want[c].dtype)]
    if drift:
        return f"dtype drift {drift}"
    a = got.astype(object).where(pd.notna(got), None)
    b = want.astype(object).where(pd.notna(want), None)
    if not a.equals(b):
        bad = int(((got != want) & ~(got.isna() & want.isna())).any(axis=1).sum())
        return f"value mismatch in {bad}/{len(got)} rows"
    return None


class Oracle:
    def __init__(self, data: str):
        self.con = duckdb.connect()
        h = hashlib.sha256()
        for t in TABLES:
            path = os.path.join(data, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            with open(path, "rb") as fh:
                h.update(fh.read())
        self.data_key = h.hexdigest()

    def sql(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha256((self.data_key + sql).encode()).hexdigest()
        path = os.path.join(CACHE, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = self.con.execute(sql).fetchdf()
        os.makedirs(CACHE, exist_ok=True)
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def one(self, sql: str):
        return self.con.execute(sql).fetchone()


# ------------------------------------------------------------ properties

def check_corpus_profile(o: Oracle, df: pd.DataFrame, _ctx):
    want = o.con.execute(
        "SELECT source, count(*) AS n_docs, sum(n_chars) AS n_chars, "
        "count(DISTINCT md5(text)) AS distinct_exact FROM documents "
        f"WHERE source IS DISTINCT FROM '{DEFAULT_DELTA}' GROUP BY source").fetchdf()
    got = df.set_index("source")
    want = want.set_index("source")
    if sorted(got.index) != sorted(want.index):
        return f"sources {sorted(got.index)} != {sorted(want.index)}"
    for s, w in want.iterrows():
        g = got.loc[s]
        for c in ("n_docs", "n_chars", "distinct_exact"):
            if int(g[c]) != int(w[c]):
                return f"{s}.{c} {g[c]} != {w[c]}"
        if abs(int(g["distinct_est"]) - int(w["distinct_exact"])) > 4 * HLL_RSE * w["distinct_exact"] + 1:
            return f"{s}.distinct_est {g['distinct_est']} outside the sketch error of {w['distinct_exact']}"
    return None


def check_text_topk_approx(o: Oracle, df: pd.DataFrame, _ctx):
    counts = o.con.execute(
        "SELECT w, count(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS w "
        "FROM documents) WHERE length(w) > 0 GROUP BY w").fetchdf()
    total = int(counts["n"].sum())
    frequent = set(counts.loc[counts["n"] > 0.01 * total, "w"])
    got = set(df["word"])
    # freqItems(support 0.01) may add false positives, never drop a word
    # above the support
    if not frequent <= got:
        return f"missing frequent words {sorted(frequent - got)[:5]}"
    if not got <= set(counts["w"]):
        return f"words not in the corpus {sorted(got - set(counts['w']))[:5]}"
    if any(int(n) != len(w) for w, n in zip(df["word"], df["word_len"])):
        return "word_len differs from the word's length"
    return None


def _half_up(x: float, places: int) -> float:
    q = decimal.Decimal(1).scaleb(-places)
    return float(decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP))


def check_text_compress_ratio(o: Oracle, df: pd.DataFrame, _ctx):
    docs = o.con.execute("SELECT doc_id, text FROM documents WHERE length(text) > 0").fetchdf()
    if sorted(docs["doc_id"]) != sorted(df["doc_id"]):
        return "doc_id set differs from the non-empty documents"
    got = df.set_index("doc_id")
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        raw = text.encode("utf-8")
        z = zlib.compressobj(-1, zlib.DEFLATED, -15)
        n = len(z.compress(raw) + z.flush())
        g = got.loc[doc_id]
        if int(g["n_bytes"]) != len(raw) or int(g["deflate_len"]) != n:
            return f"doc {doc_id}: ({g['n_bytes']}, {g['deflate_len']}) != ({len(raw)}, {n})"
        if abs(float(g["compress_ratio"]) - _half_up(n / len(raw), 4)) > 1e-12:
            return f"doc {doc_id}: compress_ratio {g['compress_ratio']}"
    return None


def store_dir(ctx, store: str) -> str:
    h = hashlib.md5(ctx["data"].encode()).hexdigest()
    return os.path.join(ctx["work"], "stores", f"{STORE_PREFIX[store]}_{h}")


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def check_store_status(_o, df: pd.DataFrame, ctx):
    for store in STORE_PREFIX:
        rows = df[df["store"] == store]
        if rows.empty or not rows["present"].all() or not rows["fresh"].all():
            return f"{store} is not listed as present and fresh"
        for _, r in rows.iterrows():
            if r["body"] in STORE_BODIES.get(store, []):
                files = parquet_rows(os.path.join(store_dir(ctx, store), r["body"]))
                if int(r["n_rows"]) != files:
                    return f"{store}/{r['body']}: n_rows {r['n_rows']} != {files} in its files"
    return None


PROPERTIES = {
    "corpus_profile": check_corpus_profile,
    "text_topk_approx": check_text_topk_approx,
    "text_compress_ratio": check_text_compress_ratio,
    "store_status": check_store_status,
}


# ------------------------------------------------------ export and stores

def _rows(df: pd.DataFrame):
    return norm(_hashable(df)).astype(str).apply(tuple, axis=1).value_counts()


def check_export(work: str, seed_results: dict):
    out = []
    for q in REFERENCE:
        src = seed_results.get(q)
        sample = read_parquet_dir(os.path.join(work, "export", "timed", q))
        # the warm-up pass exported the same result with the same seed
        again = read_parquet_dir(os.path.join(work, "export", "warm", q))
        back = read_parquet_dir(os.path.join(work, "results", f"readback:{q}"))
        if src is None or sample is None or again is None or back is None:
            out.append(f"export {q}: missing output")
            continue
        n = len(src)
        f = min(1.0, 500.0 / max(1, n))
        if f == 1.0 and compare(sample, src):
            out.append(f"export {q}: whole-result sample differs from the result")
        sd = 5 * math.sqrt(n * f * (1 - f)) + 1
        if abs(len(sample) - n * f) > sd:
            out.append(f"export {q}: {len(sample)} rows, want about {n * f:.0f}")
        have, of = _rows(sample), _rows(src)
        extra = [r for r, c in have.items() if of.get(r, 0) < c]
        if extra:
            out.append(f"export {q}: {len(extra)} sampled rows are not in the result")
        if compare(again, sample):
            out.append(f"export {q}: the same seed drew a different sample")
        if not _rows(back).sort_index().equals(have.sort_index()):
            out.append(f"export {q}: the JDBC read-back differs from what was written")
    return out


def check_stores(work: str):
    out = []
    stores = os.path.join(work, "stores")
    for b in STORE_BODIES["gram_index"]:
        err = compare(read_parquet_dir(os.path.join(stores, "delta", "gram_index", b)),
                      read_parquet_dir(os.path.join(stores, "rebuilt", "gram_index", b)))
        if err:
            out.append(f"absorbed gram_index/{b} differs from a rebuild: {err}")
    blooms = [sorted(glob.glob(os.path.join(stores, d, "bloom_store", "**", "*.bloom"), recursive=True))
              for d in ("delta", "rebuilt")]
    if not blooms[0] or len(blooms[0]) != len(blooms[1]) or any(
            open(a, "rb").read() != open(b, "rb").read() for a, b in zip(*blooms)):
        out.append("absorbed bloom_store filter differs from a rebuild")
    res = os.path.join(work, "results")
    err = compare(read_parquet_dir(os.path.join(res, "absorbed_profile")),
                  read_parquet_dir(os.path.join(res, "rebuilt_profile")))
    if err:
        out.append(f"absorbed corpus_profile serves other rows than a rebuild: {err}")
    return out


def check_run(workload: str, data: str, work: str, check: dict):
    """Every failed check of the run, as one line each."""
    o = Oracle(data)
    ctx = {"data": data, "work": work}
    failures = []
    results = {}
    for name in check["operations"]:
        got = read_parquet_dir(os.path.join(work, "results", name))
        if got is None:
            failures.append(f"{name}: no result written")
            continue
        results[name] = got
        if name in check["oracles"]:
            err = compare(got, o.sql(check["oracles"][name]))
        elif name in PROPERTIES:
            err = PROPERTIES[name](o, got, ctx)
        else:
            err = "no oracle and no property check"
        if err:
            failures.append(f"{name}: {err}")
    if workload == "analytics_sql":
        failures += check_export(work, results)
    if workload == "store_lifecycle":
        failures += check_stores(work)
    return failures
