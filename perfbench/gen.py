"""Seeded input generator for the benchmark.

Every input the workloads feed the package comes from here, keyed on
``--seed``: the same seed gives byte-identical tables, article days,
game-log batches, the curation corpus/delta/bench set with its planted
cases, RAG questions and lake predicates. Each input kind draws from its
own ``numpy`` stream (``rng(seed, kind)``), so adding a kind never shifts
another kind's values.

Nothing here imports Spark or the package: inputs are plain Python /
Arrow values written as parquet, which the package then reads.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sizes ------------------------------------------------------------------
# The star schema is a scaled-down copy of the sf0.1 test tables' shape
# (same columns and value domains, one fifth of the rows): every
# interactive request is short, so the per-job floor dominates.
STAR_ROWS = {
    "customer": 3_000,
    "supplier": 200,
    "part": 4_000,
    "orders": 30_000,
    "lineitem": 120_000,
    "events": 20_000,
    "documents": 1_500,
    "embeddings": 1_000,
}
EMB_DIM = 64
LAKE_BASE_ROWS = 20_000  # game-log rows in the bootstrapped lake
LAKE_DAY_ROWS = 1_000  # game-log rows appended per simulated day
MERGE_ROWS = 50  # corrections merged per day
DV_DELETE_ROWS = 30  # rows deleted per day through a deletion vector
ARTICLES_BOOT = 400  # articles that seed the vector store
ARTICLES_DAY = 300  # articles per simulated day
CORPUS_DOCS = 4_000  # curation corpus (signature store)
BENCH_DOCS = 200  # held-out eval set the contamination gate probes
DELTA_DOCS = 4_000  # curation delta per day
DOC_TOKENS = (60, 100)  # clean curation doc length range, in tokens

_KINDS = {
    "star": 1, "questions": 2, "articles": 3, "gamelog": 4, "predicates": 5,
    "corpus": 6, "delta": 7, "order": 8,
}


def rng(seed: int, kind: str, sub: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _KINDS[kind], sub])


def _vocab(n: int) -> list[str]:
    """Seed-independent pronounceable vocabulary: ``n`` distinct words."""
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    syl = [c + v for c in cons for v in vows]  # 90 syllables
    out = []
    for i in range(n):
        a, b, c = i % 90, (i // 90) % 90, i // 8100
        out.append(syl[a] + syl[b] + (syl[c % 90] if c else ""))
    return out


VOCAB = _vocab(30_000)
# the sf0.1 document vocabulary: q24 looks for spark|vector|window
DOC_WORDS = (
    "a batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector"
).split()


def write_table(path: str, table: pa.Table) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


# --- interactive: the star schema -------------------------------------------

def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def _days(start: dt.date, r: np.random.Generator, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "D")
    return (base + r.integers(0, span, n)).astype("datetime64[us]")


def star_tables(seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables (``catalog.TABLES``) with the testdata schema."""
    r = rng(seed, "star")
    n = STAR_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, nc),
        "c_mktsegment": segs[r.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    adj = np.array(["large", "hot", "small", "cold", "red", "blue"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 6, npart)], " "), noun[r.integers(0, 6, npart)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, npart).astype(str)),
        "p_type": ptypes[r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(npart) % 1000 / 10.0, 2),
    })
    no = n["orders"]
    odate = _days(dt.date(1995, 1, 1), r, 2404, no)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, no)],
        "o_totalprice": _money(r, 1000.0, 400000.0, no),
        "o_orderdate": odate,
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, no)
        ],
    })
    nl = n["lineitem"]
    lok = r.integers(0, no, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 100000.0, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, nl)],
        "l_shipdate": odate[lok] + (r.integers(1, 122, nl) * 86_400_000_000).astype("timedelta64[us]"),
    })
    ne = n["events"]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(r.integers(0, 30 * 86_400_000_000, ne)).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": ts,
        "user_id": pa.array(r.integers(0, 300, ne), pa.int64()),
        "event_type": np.array(["view", "click", "error", "purchase", "search"])[r.integers(0, 5, ne)],
        "value": _money(r, 0.0, 200.0, ne),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
    })
    nd = n["documents"]
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[r.integers(0, len(words), k)]) for k in r.integers(10, 90, nd)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "es", "fr", "de", "zh"])[r.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": np.char.add("src", r.integers(0, 20, nd).astype(str)),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = n["embeddings"]
    v = r.standard_normal((nv, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), pa.int32()),
    })
    return t


def questions(seed: int, texts: list[str], n: int, sub: int = 0) -> list[str]:
    """RAG question texts sampled from stored texts: a 4-8 word window of a
    random entry, so every question has lexical and semantic matches."""
    r = rng(seed, "questions", sub)
    out = []
    for _ in range(n):
        toks = texts[int(r.integers(0, len(texts)))].split()
        w = int(r.integers(4, 9))
        i = int(r.integers(0, max(1, len(toks) - w + 1)))
        out.append(" ".join(toks[i:i + w]) or "spark")
    return out


# --- lake_day: articles and game-log rows -----------------------------------

TEAMS = ["BOS", "NYY", "TBR", "TOR", "BAL", "CLE", "DET", "KCR", "MIN", "CHW",
         "HOU", "LAA", "OAK", "SEA", "TEX", "ATL", "MIA", "NYM", "PHI", "WSN"]
NOTES = ["", "rain AND delay", "extra innings", "doubleheader", "suspended AND resumed", "makeup game"]
GAMELOG_SCHEMA = pa.schema([
    ("game_id", pa.int64()), ("game_date", pa.date32()), ("team", pa.string()),
    ("opponent", pa.string()), ("runs", pa.int32()), ("hits", pa.int32()),
    ("attendance", pa.int64()), ("note", pa.string()),
])
SEASON_START = dt.date(2024, 3, 28)


def articles(seed: int, day: int, n: int) -> pa.Table:
    """One day's scraper output (FIXTURES.md B1): 5% NULL titles, 2% empty
    bodies, markdown noise and ``key: value`` lines. ``day`` < 0 is the
    store bootstrap set. URLs repeat across days (re-crawls), so the
    store upsert replaces as well as inserts."""
    r = rng(seed, "articles", day + 1000)
    when = dt.datetime.combine(SEASON_START + dt.timedelta(days=max(day, 0)), dt.time(6))
    urls, titles, bodies = [], [], []
    for i in range(n):
        # half the URLs come from a shared pool of 600 pages (re-crawls)
        page = int(r.integers(0, 600)) if r.random() < 0.5 else 10_000 * (day + 2) + i
        urls.append(f"https://news.example/mlb/{page}")
        titles.append(None if r.random() < 0.05 else f"Game recap {page}")
        if r.random() < 0.02:
            bodies.append("")
            continue
        team, opp = r.choice(TEAMS, 2, replace=False)
        words = " ".join(VOCAB[k] for k in r.integers(0, 3000, int(r.integers(30, 80))))
        bodies.append(
            f"{team} beat {opp} {int(r.integers(1, 12))} to {int(r.integers(0, 9))}.\n***\n"
            f"Topic: {team} season\n- {words}\n---\nSource: wire {int(r.integers(0, 50))}"
        )
    return pa.table({
        "url": urls, "title": pa.array(titles, pa.string()), "body": bodies,
        "scraped_at": pa.array([when + dt.timedelta(seconds=int(s)) for s in r.integers(0, 3600, n)],
                               pa.timestamp("us")),
    })


def gamelog(seed: int, sub: int, first_id: int, n: int, day: int) -> pa.Table:
    r = rng(seed, "gamelog", sub)
    home = r.integers(0, len(TEAMS), n)
    away = (home + r.integers(1, len(TEAMS), n)) % len(TEAMS)
    return pa.table({
        "game_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "game_date": pa.array(
            [SEASON_START + dt.timedelta(days=int(d)) for d in np.clip(day - r.integers(0, 3, n), 0, None)]
            if day >= 0 else
            [SEASON_START - dt.timedelta(days=int(d)) for d in r.integers(1, 200, n)],
            pa.date32(),
        ),
        "team": np.array(TEAMS)[home], "opponent": np.array(TEAMS)[away],
        "runs": pa.array(r.integers(0, 15, n), pa.int32()),
        "hits": pa.array(r.integers(2, 20, n), pa.int32()),
        "attendance": pa.array(r.integers(8_000, 50_000, n), pa.int64()),
        "note": np.array(NOTES)[r.choice(len(NOTES), n, p=[0.7, 0.06, 0.06, 0.06, 0.06, 0.06])],
    }, schema=GAMELOG_SCHEMA)


def lake_day_inputs(seed: int, day: int) -> dict:
    """Everything one simulated day writes: its articles, the appended,
    corrected, deleted, branch-staged and streamed game-log rows."""
    r = rng(seed, "gamelog", 10_000 + day)
    base_id = LAKE_BASE_ROWS + 10 * LAKE_DAY_ROWS * (day + 1)
    append = gamelog(seed, 3 * day + 1, base_id, LAKE_DAY_ROWS, day)
    # corrections: re-issued rows for existing bootstrap games, new scores
    ids = np.sort(r.choice(LAKE_BASE_ROWS, MERGE_ROWS, replace=False))
    corr = gamelog(seed, 3 * day + 2, 0, MERGE_ROWS, day).to_pydict()
    corr["game_id"] = ids.tolist()
    corrections = pa.table(corr, schema=GAMELOG_SCHEMA)
    d0 = int(r.integers(0, LAKE_BASE_ROWS - DV_DELETE_ROWS))
    branch = gamelog(seed, 3 * day + 3, base_id + LAKE_DAY_ROWS, LAKE_DAY_ROWS // 2, day)
    stream = [
        gamelog(seed, 100_000 + 2 * day + k, base_id + 2 * LAKE_DAY_ROWS + k * LAKE_DAY_ROWS, LAKE_DAY_ROWS // 2, day)
        for k in range(2)
    ]
    return {
        "articles": articles(seed, day, ARTICLES_DAY),
        "append": append,
        "corrections": corrections,
        "delete_predicate": f"game_id BETWEEN {d0} AND {d0 + DV_DELETE_ROWS - 1}",
        "branch": branch,
        "stream": stream,
    }


def lake_predicates(seed: int, day: int) -> list[tuple[str, str, bool]]:
    """Seeded read predicates from fixed shapes: (shape, predicate,
    time_travel). The time-travel read goes to the bootstrap version."""
    r = rng(seed, "predicates", day)
    top = LAKE_BASE_ROWS + 10 * LAKE_DAY_ROWS * (day + 2)
    a = int(r.integers(0, top - 3000))
    b = int(r.integers(0, top - 3000))
    c = int(r.integers(0, LAKE_BASE_ROWS - 2000))
    d1 = SEASON_START + dt.timedelta(days=max(day, 0))
    d0 = d1 - dt.timedelta(days=int(r.integers(1, 4)))
    note = NOTES[1 + int(r.integers(0, 2)) * 3]  # the two notes holding ' AND '
    return [
        ("box", f"game_id BETWEEN {a} AND {a + 2500} AND runs >= {int(r.integers(3, 9))}", False),
        ("or_ranges", f"game_id BETWEEN {a} AND {a + 800} OR game_id BETWEEN {b} AND {b + 800}", False),
        ("date_range", f"game_date >= DATE '{d0}' AND game_date <= DATE '{d1}'", False),
        ("and_literal", f"note = '{note}' AND game_id < {top // 2}", False),
        ("time_travel", f"game_id BETWEEN {c} AND {c + 1500}", True),
    ]


# --- curation: corpus, bench set and the planted delta ----------------------

def _doc(r: np.random.Generator, n_tok: int | None = None) -> list[str]:
    n = n_tok or int(r.integers(*DOC_TOKENS))
    return [VOCAB[k] for k in r.integers(0, len(VOCAB), n)]


def curation_inputs(seed: int, delta_docs: int = DELTA_DOCS, sub: int = 0) -> dict:
    """Corpus, bench set and one delta with planted cases. Returns the
    tables plus ``expect``: the exact funnel (rows after each pipeline
    gate), the ids the pipeline must release, and the near-dup groups
    the survivor clustering must collapse.

    Planted cases, each disjoint from the others (counts scale with the
    delta): too short; repetitive; exact duplicates of an earlier delta
    doc; near-duplicates of corpus docs (one token appended: Jaccard
    ~0.98, so 4-band MinHash misses one with probability ~1e-8);
    contaminated (a 12-token span of a bench doc); PII (an email, kept
    but redacted); an unlisted source (dropped by the mix); and
    survivor near-dup groups (last 10 tokens rewritten: Jaccard 0.5-0.9,
    under the pipeline's 0.9 gate, over the clustering's 0.5)."""
    rc = rng(seed, "corpus")
    corpus = [" ".join(_doc(rc)) for _ in range(CORPUS_DOCS)]
    bench = [" ".join(_doc(rc, 40)) for _ in range(BENCH_DOCS)]
    r = rng(seed, "delta", sub)
    k = max(1, delta_docs // 100)
    plan = {"short": k, "repetitive": k, "exact_dup": 2 * k, "corpus_neardup": 2 * k,
            "contaminated": k, "pii": k, "unlisted": k, "group": k}
    rows: list[tuple[str, str]] = []  # (text, source) in id order
    kinds: list[str] = []

    def add(text: str, kind: str, source: str = "web") -> int:
        rows.append((text, source))
        kinds.append(kind)
        return len(rows) - 1

    groups: list[list[int]] = []
    n_clean = delta_docs - sum(plan.values()) - 2 * plan["group"]
    for _ in range(n_clean):
        add(" ".join(_doc(r)), "clean", "web" if r.random() < 0.6 else "news")
    clean_ids = list(range(len(rows)))
    for _ in range(plan["short"]):
        add(VOCAB[int(r.integers(0, len(VOCAB)))], "short")
    for _ in range(plan["repetitive"]):
        w = _doc(r, 3)
        add(" ".join(w * 25), "repetitive")
    dup_pairs = []
    for i in r.choice(clean_ids, plan["exact_dup"], replace=False):
        dup_pairs.append((int(i), add(rows[int(i)][0], "exact_dup", rows[int(i)][1])))
    for i in r.choice(CORPUS_DOCS, plan["corpus_neardup"], replace=False):
        add(corpus[int(i)] + " " + VOCAB[int(r.integers(0, len(VOCAB)))], "corpus_neardup")
    for _ in range(plan["contaminated"]):
        b = bench[int(r.integers(0, BENCH_DOCS))].split()
        j = int(r.integers(0, len(b) - 12))
        d = _doc(r)
        add(" ".join(d[:30] + b[j:j + 12] + d[30:]), "contaminated")
    for _ in range(plan["pii"]):
        d = _doc(r)
        add(" ".join(d[:20] + [f"mail {VOCAB[int(r.integers(0, 999))]}@example.org"] + d[20:]), "pii")
    for _ in range(plan["unlisted"]):
        add(" ".join(_doc(r)), "unlisted", "forum")
    for _ in range(plan["group"]):
        base = _doc(r, 100)
        g = [add(" ".join(base), "group")]
        for _ in range(2):
            var = base[:90] + _doc(r, 10)
            g.append(add(" ".join(var), "group"))
        groups.append(g)
    # shuffle ids so planted rows are spread over partitions, but keep
    # every exact duplicate AFTER its original (dedup keeps the min id)
    ids = (1_000_000 + r.permutation(len(rows))).tolist()
    for orig, dup in dup_pairs:
        if ids[dup] < ids[orig]:
            ids[orig], ids[dup] = ids[dup], ids[orig]
    n = len(rows)
    quality = n - plan["short"] - plan["repetitive"]
    exact = quality - plan["exact_dup"]
    neardup = exact - plan["corpus_neardup"]
    decont = neardup - plan["contaminated"]
    mixed = decont - plan["unlisted"]
    dropped = {"short", "repetitive", "exact_dup", "corpus_neardup", "contaminated", "unlisted"}
    released = {ids[i] for i in range(n) if kinds[i] not in dropped}
    group_ids = [sorted(ids[i] for i in g) for g in groups]
    losers = {x for g in group_ids for x in g[1:]}
    return {
        "corpus": pa.table({"doc_id": pa.array(range(CORPUS_DOCS), pa.int64()), "text": corpus,
                            "source": ["web"] * CORPUS_DOCS}),
        "bench": pa.table({"doc_id": pa.array(range(900_000, 900_000 + BENCH_DOCS), pa.int64()), "text": bench}),
        "delta": pa.table({"doc_id": pa.array(ids, pa.int64()), "text": [t for t, _ in rows],
                           "source": [s for _, s in rows]}),
        "expect": {
            "funnel": {"input": n, "quality": quality, "exact_dedup": exact, "neardup": neardup,
                       "decontaminated": decont, "mixed": mixed},
            "released": released,
            "pii": sum(1 for kd in kinds if kd == "pii"),
            "groups": group_ids,
            "kept_after_cluster": released - losers,
        },
    }

