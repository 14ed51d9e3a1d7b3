"""Seeded input generators for the benchmark.

Two corpora, both generated from a seed so a run needs nothing outside its
own checkout:

* ``write_catalog(out, sf, seed)`` -- the catalog tables (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings) in the parametric family of the engine's test fixtures:
  the same schemas, the same 31-word document vocabulary, planted exact
  copies and word-flip near duplicates, uniform facts.  Deterministic
  for a given (sf, seed).
* ``write_news(path, n, seed)`` -- a raw news JSONL shaped like the
  News Category Dataset, with known counts of every defect the clean
  stage must handle and of exact and near duplicates.  Returns the
  planted truth the pipeline's outputs are checked against.
"""
import json
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window"])
P_MUTATE = 0.045
P_FLIP = 0.02
P_EXACT = 0.0016


def doc_texts(n, rng):
    """Fixture-family document texts: 10-100 vocabulary words, with
    planted exact copies and word-flip mutations of earlier documents."""
    texts = []
    kind = rng.random(n)
    for i in range(n):
        if i > 20 and kind[i] < P_EXACT:
            texts.append(texts[rng.integers(0, i)])
        elif i > 20 and kind[i] < P_EXACT + P_MUTATE:
            base = np.array(texts[rng.integers(0, i)].split(" "))
            flip = rng.random(len(base)) < P_FLIP
            words = np.where(flip, VOCAB[rng.integers(0, 31, len(base))], base)
            if (words == base).all():
                j = rng.integers(0, len(base))
                words[j] = VOCAB[(np.searchsorted(VOCAB, base[j])
                                  + rng.integers(1, 31)) % 31]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, 31, rng.integers(10, 101))]))
    return texts


def _days(start, end):
    return (np.datetime64(start, "D").astype(np.int64),
            np.datetime64(end, "D").astype(np.int64))


def _ts(days):
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def write_catalog(out, sf, seed):
    """Write the ten catalog tables at scale factor `sf` into `out`."""
    rng = np.random.default_rng(seed)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    n_events, n_users = int(1_000_000 * sf), max(1, int(15_000 * sf))
    n_cust, n_orders, n_lines = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_parts, n_supps = int(200_000 * sf), max(1, int(10_000 * sf))
    tables = {}

    texts = doc_texts(n_docs, rng)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(np.array(["en", "de", "fr", "es", "zh"]), n_docs,
                                    p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]), pa.string()),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
                           pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts]), pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t1 = np.datetime64("2024-01-31T00:00:00", "us").astype(np.int64)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.sort(rng.integers(t0, t1, n_events)).astype("datetime64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(np.array(
            ["view", "click", "purchase", "signup", "error"]), n_events), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), pa.float64()),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(
            0, 100, n_events).astype(str)), "}"), pa.string()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % k for k in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": pa.array(rng.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), n_cust),
            pa.string()),
    })
    d0, d1 = _days("1995-01-01", "2001-08-01")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(["O", "P", "F"]), n_orders), pa.string()),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_orders)),
        "o_orderpriority": pa.array(rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_orders),
            pa.string()),
    })
    s0, s1 = _days("1995-01-02", "2001-11-04")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supps, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64), pa.float64()),
        "l_extendedprice": _money(rng, 900, 105000, n_lines),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_lines), pa.string()),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_lines), pa.string()),
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, n_lines)),
    })
    adjectives = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    keys = np.arange(n_parts)
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(adjectives, n_parts), " "),
                                       rng.choice(nouns, n_parts)), pa.string()),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_parts).astype(str)),
                            pa.string()),
        "p_type": pa.array(rng.choice(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]), n_parts),
            pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 1), pa.float64()),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supps), pa.int64()),
        "s_name": pa.array(["Supplier#%09d" % k for k in range(n_supps)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supps), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, n_supps),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array(["NATION_%d" % k for k in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string()),
    })
    rows = {}
    for name, table in tables.items():
        pq.write_table(table, f"{out}/{name}.parquet", compression="snappy")
        rows[name] = table.num_rows
    return rows


# --- news -----------------------------------------------------------------

CATEGORIES = ["WORLD NEWS", "POLITICS", "BUSINESS", "TECH", "MONEY"]
OFF_LIST = ["SPORTS", "COMEDY", "ENTERTAINMENT", "TRAVEL"]
BAD_DATES = ["not-a-date", "n/a", "20xx-01-01", "2019-13-45", "yesterday"]
# Raw-record kinds and their shares; every other record is valid.
DEFECT_SHARES = {
    "null_title": 0.02, "null_content": 0.02, "null_category": 0.015,
    "off_list": 0.06, "bad_date": 0.02, "corrupt": 0.005}
EXACT_SHARE, NEAR_SHARE = 0.03, 0.03
# Transport outcomes planted per call; "ok" takes the rest.
OUTCOMES = ("missing_keys", "malformed", "thrown")
YEARS = (2012, 2022)


def outcome_bucket(title, seed):
    """Which planted transport outcome a title draws, as a bucket in
    [0, 10000).  The JVM transport computes the same function."""
    return ((zlib.crc32(title.encode("utf-8")) + seed * 2654435761) % 2**32) % 10000


def outcome_cuts(seed):
    """Cumulative bucket limits of the planted outcomes for a seed."""
    rng = np.random.default_rng([seed, 7])
    shares = rng.integers(150, 400, len(OUTCOMES))  # 1.5-4% each
    return [int(x) for x in np.cumsum(shares)]


def outcome_of(title, seed, cuts):
    b = outcome_bucket(title, seed)
    for name, cut in zip(OUTCOMES, cuts):
        if b < cut:
            return name
    return "ok"


def write_news(path, n, seed, texts):
    """Write `n` raw JSONL records to `path`; return the planted truth.

    Valid records carry a unique content: an excerpt of a fixture-family
    document plus tokens drawn from a large vocabulary, so distinct
    records are far apart in SimHash space.  An exact duplicate repeats
    an earlier valid record's title and content under a new link; a near
    duplicate swaps two adjacent words of an earlier valid record's
    content (same bag of words, so the same SimHash, different md5).
    """
    rng = np.random.default_rng([seed, 1])
    cuts = outcome_cuts(seed)
    kinds = list(DEFECT_SHARES) + ["exact", "near"]
    shares = list(DEFECT_SHARES.values()) + [EXACT_SHARE, NEAR_SHARE]
    draw = rng.choice(len(kinds) + 1, n, p=shares + [1 - sum(shares)])
    d0, d1 = _days(f"{YEARS[0]}-01-01", f"{YEARS[1]}-12-31")
    days = rng.integers(d0, d1 + 1, n).astype("datetime64[D]")
    cats = rng.integers(0, len(CATEGORIES), n)
    excerpt = rng.integers(0, len(texts), n)
    extra = rng.integers(0, 200_000, (n, 16))
    truth = {"raw": n, "defects": {k: 0 for k in DEFECT_SHARES}, "clean": 0,
             "exact_dup": 0, "near_dup": 0, "per_year": {},
             "outcomes": {k: 0 for k in OUTCOMES + ("ok",)}}
    originals = []  # indexes into `valid` of unique records not yet copied
    valid = []      # (title, content) of valid records
    n_bytes = 0
    with open(path, "w", encoding="utf-8") as f:
        for i in range(n):
            kind = kinds[draw[i]] if draw[i] < len(kinds) else "unique"
            if kind in ("exact", "near") and not originals:
                kind = "unique"
            day = str(days[i])
            rec = {"link": f"https://news.example/{seed}/{i}",
                   "headline": None, "category": CATEGORIES[cats[i]],
                   "short_description": None, "authors": f"Reporter {i % 97}",
                   "date": day}
            if kind in ("exact", "near"):
                j = originals.pop(int(rng.integers(0, len(originals))))
                title, content = valid[j]
                if kind == "near":
                    words = content.split(" ")
                    swaps = [k for k in range(len(words) - 1) if words[k] != words[k + 1]]
                    k = swaps[int(rng.integers(0, len(swaps)))]
                    words[k], words[k + 1] = words[k + 1], words[k]
                    content = " ".join(words)
                    title = f"{title} (update)"
            else:
                words = texts[excerpt[i]].split(" ")[:8]
                words += [f"w{x}" for x in extra[i]]
                content = f"{' '.join(words)} n{i}"
                title = f"Market report {i}: {' '.join(words[:3])}"
            rec["headline"], rec["short_description"] = title, content
            if kind in DEFECT_SHARES:
                truth["defects"][kind] += 1
                if kind == "null_title":
                    rec["headline"] = None
                elif kind == "null_content":
                    del rec["short_description"]
                elif kind == "null_category":
                    rec["category"] = None
                elif kind == "off_list":
                    rec["category"] = OFF_LIST[i % len(OFF_LIST)]
                elif kind == "bad_date":
                    rec["date"] = BAD_DATES[i % len(BAD_DATES)]
                line = json.dumps(rec)
                if kind == "corrupt":
                    line = line[: len(line) // 2]
            else:
                line = json.dumps(rec)
                truth["clean"] += 1
                if kind in ("exact", "near"):
                    truth[f"{kind}_dup"] += 1
                else:
                    originals.append(len(valid))
                valid.append((title, content))
                year = day[:4]
                truth["per_year"][year] = truth["per_year"].get(year, 0) + 1
                truth["outcomes"][outcome_of(title, seed, cuts)] += 1
            f.write(line + "\n")
            n_bytes += len(line.encode("utf-8")) + 1
    truth["bytes"] = n_bytes
    truth["planted_kept"] = truth["clean"] - truth["exact_dup"] - truth["near_dup"]
    truth["outcome_cuts"] = cuts
    return truth
