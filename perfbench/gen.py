"""Seeded input generator for the benchmark workloads.

Each ``make_<workload>(out_dir, seed, scale)`` writes that workload's input
files under ``out_dir`` and returns a manifest: the file paths, the seed,
the input sizes, and everything the runner's output checks need to know in
advance (expected import counters and the expected committed rows). The
engine only ever sees the written files.

Run on its own to inspect a workload's inputs:

    python3 perfbench/gen.py --workload merge_incremental --seed 1 --out .perfbench/gen
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority", "o_comment",
]
STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
COMMENT_WORDS = np.array([
    "furiously", "final", "deposits", "carefully", "regular", "accounts",
    "quickly", "ironic", "packages", "blithely", "pending", "requests",
])
DAY0 = np.datetime64("1992-01-01T00:00:00", "us")
N_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order date range
HISTORY_DATE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# Document vocabulary: the engine's language lexicons plus neutral filler,
# so language id, fingerprints and shingles all see realistic variety.
LEXICONS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "dans"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "zu"],
    "es": ["el", "la", "los", "las", "y", "de", "que", "es", "un", "una"],
}
FILLER = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "join",
    "vector", "customer", "shard", "index", "cache", "token", "corpus", "shingle",
    "bucket", "graph", "edge", "node", "label", "cluster", "score", "rank",
]


def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _orders(rng: np.random.Generator, n: int, key_space: int) -> pd.DataFrame:
    """An orders-shaped frame with ``n`` distinct keys drawn from
    ``1..key_space``; o_orderdate is a UTC TIMESTAMP."""
    keys = np.sort(rng.choice(key_space, size=n, replace=False)) + 1
    n_words = rng.integers(2, 7, size=n)
    words = rng.choice(COMMENT_WORDS, size=(n, 6))
    comments = [
        # every third comment carries a comma, so the CSV quotes it
        (", " if i % 3 == 0 else " ").join(words[i, : n_words[i]])
        for i in range(n)
    ]
    return pd.DataFrame({
        "o_orderkey": keys.astype("int64"),
        "o_custkey": rng.integers(1, 15001, size=n).astype("int64"),
        "o_orderstatus": rng.choice(STATUSES, size=n),
        "o_totalprice": np.round(rng.uniform(850.0, 550000.0, size=n), 2),
        "o_orderdate": DAY0 + rng.integers(0, N_DAYS, size=n).astype("timedelta64[D]"),
        "o_orderpriority": rng.choice(PRIORITIES, size=n),
        "o_comment": comments,
    })


def orders_arrow_schema() -> pa.Schema:
    return pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us", tz="UTC")),
        ("o_orderpriority", pa.string()), ("o_comment", pa.string()),
    ])


def history_arrow_schema() -> pa.Schema:
    return pa.schema([
        ("model_id", pa.int64()),
        ("old_o_orderstatus", pa.string()), ("new_o_orderstatus", pa.string()),
        ("old_o_totalprice", pa.float64()), ("new_o_totalprice", pa.float64()),
        ("date", pa.timestamp("us", tz="UTC")),
    ])


def _write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema, parts: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _fmt_date(ts: np.datetime64) -> str:
    # the ISO branch of the engine's en_US datetime parser: yyyy-MM-dd H:m:s
    return str(ts.astype("datetime64[s]")).replace("T", " ")


# ---------------------------------------------------------------------------
# merge_incremental
# ---------------------------------------------------------------------------

def _write_csv(rows: pd.DataFrame, out_dir: str, n_files: int, rng: np.random.Generator) -> dict:
    """Write ``rows`` (in order) as CSV files with dirty cells; only the
    first file has a header line. Returns the parse outcome per row:
    which cells are malformed and which rows have no usable key."""
    n = len(rows)
    cells = {c: rows[c].astype(str).to_numpy(dtype=object) for c in ORDER_COLS}
    cells["o_totalprice"] = np.array([repr(float(v)) for v in rows["o_totalprice"]], dtype=object)
    cells["o_orderdate"] = np.array([_fmt_date(v) for v in rows["o_orderdate"].to_numpy()], dtype=object)
    keyless = rows["o_orderkey"].isna().to_numpy()
    cells["o_orderkey"][~keyless] = rows["o_orderkey"][~keyless].astype("int64").astype(str)
    cells["o_orderkey"][keyless] = rng.choice(["", "N/A", "#REF!"], size=int(keyless.sum()))
    bad = {
        # a legitimate NULL after parsing
        "o_totalprice": rng.random(n) < 0.01,
        "o_custkey": rng.random(n) < 0.005,
        # a parse error: the engine keeps the previous value and warns
        "o_orderdate": rng.random(n) < 0.005,
    }
    cells["o_totalprice"][bad["o_totalprice"]] = "12,3x"
    cells["o_custkey"][bad["o_custkey"]] = "cust#" + cells["o_custkey"][bad["o_custkey"]]
    cells["o_orderdate"][bad["o_orderdate"]] = "31/31/1995 25:61:00"
    pad = rng.random(n) < 0.02
    cells["o_orderpriority"][pad] = "  " + cells["o_orderpriority"][pad] + " "

    os.makedirs(out_dir)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    cols = [cells[c] for c in ORDER_COLS]
    for f in range(n_files):
        with open(os.path.join(out_dir, f"delta-{f}.csv"), "w", newline="", encoding="utf-8") as fh:
            w = csv.writer(fh)
            if f == 0:
                w.writerow(ORDER_COLS)
            w.writerows(zip(*(c[bounds[f]:bounds[f + 1]] for c in cols)))
    return {"bad": bad, "keyless": keyless}


def make_merge_incremental(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """A committed 50k-row target, a history sink holding prior days, a
    CREATE_AND_UPDATE delta exported as dirty CSV (about 10% of the keys
    updated, new keys, duplicate keys, key-less rows, malformed cells,
    quoted commas) and an UPDATE-only price-correction feed in parquet."""
    rng = np.random.default_rng([seed, 2])
    n_target = max(500, int(50_000 * scale))
    n_upd, n_new = n_target // 10, n_target // 30
    n_dup, n_nokey = n_target // 100, max(5, n_target // 300)
    n_hist = n_target // 5

    pool = _orders(rng, n_target + n_new + n_target // 60, 6 * n_target)
    pool = pool.iloc[rng.permutation(len(pool))].reset_index(drop=True)
    target = pool.iloc[:n_target].sort_values("o_orderkey").reset_index(drop=True)
    target["o_comment"] = target["o_comment"].where(rng.random(n_target) >= 0.2)
    new_rows = pool.iloc[n_target:n_target + n_new].reset_index(drop=True)
    unknown_keys = pool["o_orderkey"].to_numpy()[n_target + n_new:]

    # delta rows for existing keys: the price always changes, the status
    # for half of them, the date never applies (insert-only column)
    upd_idx = np.sort(rng.choice(n_target, size=n_upd, replace=False))
    upd = _orders(rng, n_upd, 6 * n_target)
    upd["o_orderkey"] = target["o_orderkey"].to_numpy()[upd_idx]
    upd["o_custkey"] = target["o_custkey"].to_numpy()[upd_idx]
    upd["o_orderpriority"] = target["o_orderpriority"].to_numpy()[upd_idx]
    old_status = target["o_orderstatus"].to_numpy()[upd_idx]
    status_idx = np.select([old_status == s for s in STATUSES], np.arange(len(STATUSES)))
    new_status = STATUSES[(status_idx + rng.integers(1, 3, size=n_upd)) % len(STATUSES)]
    upd["o_orderstatus"] = np.where(rng.random(n_upd) < 0.5, old_status, new_status)
    upd["o_totalprice"] = target["o_totalprice"].to_numpy()[upd_idx] + np.round(rng.uniform(1, 500, n_upd), 2)

    # File order: every delta key once, then later duplicates (a second
    # price, which wins, and a second comment, which fill-if-null ignores)
    # mixed with key-less rows.
    first = pd.concat([upd, new_rows], ignore_index=True)
    first = first.iloc[rng.permutation(len(first))].reset_index(drop=True)
    dups = first.iloc[rng.choice(len(first), size=n_dup, replace=False)].copy()
    dups["o_totalprice"] = dups["o_totalprice"] + np.round(rng.uniform(1, 500, n_dup), 2)
    dups["o_comment"] = "revised, " + dups["o_comment"]
    nokey = _orders(rng, n_nokey, 6 * n_target)
    nokey["o_orderkey"] = None
    tail = pd.concat([dups, nokey], ignore_index=True)
    delta = pd.concat([first, tail.iloc[rng.permutation(len(tail))]], ignore_index=True)

    # corrections: prices for delta-updated keys, untouched keys, new keys
    # and unknown keys (the UPDATE-only feed must not create those)
    untouched = np.setdiff1d(np.arange(n_target), upd_idx)
    k_upd = rng.choice(target["o_orderkey"].to_numpy()[upd_idx], size=n_upd // 10, replace=False)
    k_old = rng.choice(target["o_orderkey"].to_numpy()[untouched], size=n_upd // 10, replace=False)
    k_new = rng.choice(new_rows["o_orderkey"].to_numpy(), size=n_new // 10, replace=False)
    corr_keys = np.concatenate([k_upd, k_old, k_new, unknown_keys])
    corr = pd.DataFrame({
        "o_orderkey": corr_keys.astype("int64"),
        "o_totalprice": np.round(rng.uniform(550001.0, 600000.0, len(corr_keys)), 2),
    })
    corr["seq"] = np.arange(len(corr), dtype="int64")
    corr = corr.iloc[rng.permutation(len(corr))].reset_index(drop=True)

    seed_dir = _reset(os.path.join(out_dir, "seeded"))
    _write_parquet(target, os.path.join(seed_dir, "target"), orders_arrow_schema(), parts=4)
    src_dir = _reset(os.path.join(out_dir, "sources"))
    parsed = _write_csv(delta, os.path.join(src_dir, "delta"), 2, rng)
    _write_parquet(corr, os.path.join(src_dir, "corrections"),
                   pa.schema([("o_orderkey", pa.int64()), ("o_totalprice", pa.float64()),
                              ("seq", pa.int64())]))

    # ---- expected state, folded the way the import semantics define it --
    # Per key, in file order: custkey/status/price/priority take the last
    # row's parsed value (a malformed price or custkey parses to NULL);
    # the insert-only date takes the first row's value (NULL if it does
    # not parse); the fill-if-null comment takes the first non-NULL one.
    d = delta.copy()
    for c in ("o_totalprice", "o_custkey", "o_orderdate"):
        d[c] = d[c].where(~parsed["bad"][c])
    d = d[~parsed["keyless"]].astype({"o_orderkey": "int64"})
    d_last = d.drop_duplicates("o_orderkey", keep="last").set_index("o_orderkey")
    d_first = d.drop_duplicates("o_orderkey", keep="first").set_index("o_orderkey")
    d_first_comment = d.groupby("o_orderkey")["o_comment"].first()
    tgt = target.set_index("o_orderkey")
    final = tgt.copy()
    final["o_custkey"] = final["o_custkey"].astype("float64")
    is_old = d_last.index.isin(tgt.index)
    ok, nk = d_last.index[is_old], d_last.index[~is_old]
    for c in ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"):
        final.loc[ok, c] = d_last.loc[ok, c]
    fill = ok[tgt.loc[ok, "o_comment"].isna().to_numpy()]
    final.loc[fill, "o_comment"] = d_first_comment.loc[fill]
    ins = d_last.loc[nk, ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]].copy()
    ins["o_orderdate"] = d_first.loc[nk, "o_orderdate"]
    ins["o_comment"] = d_first_comment.loc[nk]
    final = pd.concat([final, ins[final.columns]])
    c_last = corr.sort_values("seq").groupby("o_orderkey").last()["o_totalprice"]
    c_hit = c_last.index[c_last.index.isin(final.index)]
    final.loc[c_hit, "o_totalprice"] = c_last.loc[c_hit]
    final = final.sort_index()

    # History: one row per updated target key; a column's old/new pair is
    # set only when that column changed.
    status_flag = pd.Series(False, index=tgt.index)
    status_flag.loc[ok] = (d_last.loc[ok, "o_orderstatus"] != tgt.loc[ok, "o_orderstatus"]).to_numpy()
    price_flag = pd.Series(False, index=tgt.index)
    price_flag.loc[ok] = True
    price_flag.loc[c_hit[c_hit.isin(tgt.index)]] = True
    changed = tgt.index[price_flag.to_numpy() | status_flag.to_numpy()]
    hist = pd.DataFrame({
        "model_id": changed.to_numpy(),
        "old_o_orderstatus": tgt.loc[changed, "o_orderstatus"].where(status_flag.loc[changed]).to_numpy(),
        "new_o_orderstatus": final.loc[changed, "o_orderstatus"].where(status_flag.loc[changed]).to_numpy(),
        "old_o_totalprice": tgt.loc[changed, "o_totalprice"].to_numpy(),
        "new_o_totalprice": final.loc[changed, "o_totalprice"].to_numpy(),
    })
    prior = pd.DataFrame({
        "model_id": rng.choice(target["o_orderkey"].to_numpy(), size=n_hist),
        "old_o_orderstatus": rng.choice(STATUSES, size=n_hist),
        "new_o_orderstatus": rng.choice(STATUSES, size=n_hist),
        "old_o_totalprice": np.round(rng.uniform(850.0, 550000.0, n_hist), 2),
        "new_o_totalprice": np.round(rng.uniform(850.0, 550000.0, n_hist), 2),
        "date": (np.datetime64("2023-12-01T00:00:00", "us")
                 + rng.integers(0, 30, size=n_hist).astype("timedelta64[D]")),
    })
    _write_parquet(prior, os.path.join(seed_dir, "history"), history_arrow_schema(), parts=2)

    n_keyed = int((~parsed["keyless"]).sum())
    image_keys = n_target + len(nk)
    corr_matched = corr["o_orderkey"].isin(final.index)
    bad_dates = int((parsed["bad"]["o_orderdate"] & ~parsed["keyless"]).sum())
    return {
        "workload": "merge_incremental",
        "seed": seed,
        "seed_target_dir": os.path.join(seed_dir, "target"),
        "seed_history_dir": os.path.join(seed_dir, "history"),
        "delta_dir": os.path.join(src_dir, "delta"),
        "corrections_dir": os.path.join(src_dir, "corrections"),
        "target_dir": os.path.join(out_dir, "target"),
        "history_dir": os.path.join(out_dir, "history"),
        "source_rows": len(delta) + len(corr),
        "input_bytes": sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(src_dir) for f in files
        ),
        "sizes": {"target_rows": n_target, "history_rows": n_hist, "delta_csv_rows": len(delta),
                  "correction_rows": len(corr), "updated_keys": n_upd, "new_keys": len(nk),
                  "duplicate_rows": n_dup, "keyless_rows": n_nokey},
        "expected_counters": {
            "created": int(len(nk)),
            "updated": int(len(changed)),
            "history_created": int(len(changed)),
            "rejected": 0,
            "sources": [
                {"read": n_keyed, "ignored": 0, "ignored_missing_id": len(delta) - n_keyed,
                 "ignored_not_created": 0, "ignored_not_updated": 0, "rejected": 0,
                 "not_found": int(n_target - len(ok))},
                {"read": int(corr_matched.sum()), "ignored": 0, "ignored_missing_id": 0,
                 "ignored_not_created": int((~corr_matched).sum()), "ignored_not_updated": 0,
                 "rejected": 0,
                 "not_found": int(image_keys - corr.loc[corr_matched, "o_orderkey"].nunique())},
            ],
            "warnings": [{"o_orderdate": bad_dates}, {}],
        },
        "expected_target": final.reset_index(),
        "expected_history": hist.sort_values("model_id").reset_index(drop=True),
        "prior_history_rows": n_hist,
        "history_date": HISTORY_DATE,
    }


# ---------------------------------------------------------------------------
# dedup_corpus
# ---------------------------------------------------------------------------

def make_dedup_corpus(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) with
    injected exact and near-duplicate documents, as the catalog's
    dedup and curation queries read it."""
    rng = np.random.default_rng([seed, 3])
    n_docs = max(60, int(500 * scale))
    n_near = n_docs // 8
    n_exact = n_docs // 40
    n_base = n_docs - n_near - n_exact
    vocab = np.array(FILLER + sorted({w for ws in LEXICONS.values() for w in ws}))
    langs = np.array(list(LEXICONS) + ["und"])
    texts, doc_lang = [], []
    for _ in range(n_base):
        lang = rng.choice(langs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
        n_words = int(rng.integers(6, 90))
        words = rng.choice(vocab[: len(FILLER)], size=n_words)
        if lang != "und":
            lex = np.array(LEXICONS[lang])
            mask = rng.random(n_words) < 0.3
            words[mask] = rng.choice(lex, size=int(mask.sum()))
        texts.append(" ".join(words))
        doc_lang.append(lang)
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        words = texts[src].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        texts.append(" ".join(words))
        doc_lang.append(doc_lang[src])
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        texts.append(texts[src])
        doc_lang.append(doc_lang[src])
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [doc_lang[i] for i in order],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    sf_dir = _reset(os.path.join(out_dir, "sf"))
    table = pa.Table.from_pandas(docs, preserve_index=False)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)
    return {
        "workload": "dedup_corpus",
        "seed": seed,
        "sf_dir": sf_dir,
        "output_dir": os.path.join(out_dir, "out"),
        "source_rows": n_docs,
        "input_bytes": os.path.getsize(path),
        "sizes": {"documents": n_docs, "near_duplicates": n_near, "exact_duplicates": n_exact},
    }


GENERATORS = {
    "merge_incremental": make_merge_incremental,
    "dedup_corpus": make_dedup_corpus,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", default=os.path.join(".perfbench", "gen"))
    args = ap.parse_args()
    m = GENERATORS[args.workload](os.path.abspath(args.out), args.seed, args.scale)
    print(json.dumps({k: v for k, v in m.items() if not k.startswith("expected_")
                      and not isinstance(v, (dt.datetime,))}, default=str))


if __name__ == "__main__":
    main()
