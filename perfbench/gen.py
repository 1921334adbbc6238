"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed gives
byte-identical parquet files (``selftest.py`` checks this).

* ``write_star_schema`` — the TPC-H-shaped star schema the engine's
  registry queries read (``region nation customer supplier part orders
  lineitem``), with the column types, value ranges and uniform key
  distributions of the reference test data, at a chosen scale factor.
* ``staged_papers`` / ``batches_with_replays`` / ``write_papers`` —
  arXiv-shaped staged paper batches in the engine's
  ``StreamingWarehouse.stagedSchema`` shape, with Zipf-skewed author reuse
  and a few replayed ids.
* ``hg_reference`` — the driver-side h/g-index recomputation the
  warehouse workload is checked against.
"""
import datetime as _dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = _dt.datetime(1970, 1, 1)


def _days(d):
    return (d - _EPOCH).days


def _ts(rng, lo, hi, n):
    """Uniform whole-day timestamps in [lo, hi] as timestamp[us]."""
    days = rng.integers(_days(lo), _days(hi) + 1, n, dtype=np.int64)
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def _write(table, path):
    # one row group, no dictionary surprises: the reference data's layout
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1),
                   compression="snappy")


ADJECTIVES = ["large", "new", "old", "hot", "small", "cold", "shiny", "dull"]
NOUNS = ["ring", "rod", "gear", "plate", "widget", "gizmo", "bolt", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def star_schema(seed, sf):
    """The seven star-schema tables at scale factor ``sf`` (sf=0.1 gives
    15 k customers, 150 k orders and ~600 k line items)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(rng, _dt.datetime(1995, 1, 1), _dt.datetime(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _ts(rng, _dt.datetime(1995, 1, 2), _dt.datetime(2001, 11, 4), n_line)})
    return t


def write_star_schema(seed, sf, out_dir):
    for name, table in star_schema(seed, sf).items():
        _write(table, f"{out_dir}/{name}.parquet")


# ---- warehouse ingest ------------------------------------------------------

SUBJECTS = ["Mathematics", "Physics", "Computer Science", "Biology",
            "Chemistry", "Economics", "Statistics", "Astronomy"]
TYPES = ["journal-article", "proceedings-article", "posted-content", "book-chapter"]
GIVEN = ["Ana", "Ben", "Chen", "Dana", "Emil", "Fatima", "Goran", "Hana",
         "Ivan", "Jun", "Kaisa", "Liis", "Marek", "Nora", "Otto", "Priya"]
FAMILY = ["Tamm", "Saar", "Mets", "Kask", "Rebane", "Ilves", "Kukk", "Lepp",
          "Koppel", "Ots", "Sepp", "Vaher", "Parn", "Kuusk", "Mägi", "Oja"]

STAGED_SCHEMA = pa.schema([
    ("id", pa.string()),
    ("subject", pa.string()),
    ("published-year", pa.int32()),
    ("type", pa.string()),
    ("container-title", pa.string()),
    ("publisher", pa.string()),
    ("is-referenced-by-count", pa.int32()),
    ("doi", pa.string()),
    ("title", pa.string()),
    ("latest_version", pa.string()),
    ("authors_merged", pa.list_(pa.struct([
        ("family", pa.string()), ("given", pa.string()),
        ("affiliation", pa.string()), ("gender", pa.string()),
        ("full_name", pa.string())]))),
])


def _author(i):
    """Author ``i``'s fixed attributes (a pure function of i)."""
    given, family = GIVEN[i % len(GIVEN)], FAMILY[(i // len(GIVEN)) % len(FAMILY)]
    aff = None if i % 7 == 0 else f"University {i % 40}"
    return {"family": family, "given": given, "affiliation": aff,
            "gender": "female" if i % 2 else "male",
            "full_name": f"{given} {family} {i}"}


ZIPF_A = 1.3  # author reuse skew


def staged_papers(seed, n_papers):
    """``n_papers`` distinct staged papers (dicts in the staged schema).

    Authors are drawn Zipf-skewed (``ZIPF_A``) from a pool of half as many
    authors as papers, so a few prolific authors recur in many batches and
    the warehouse's incremental h/g-index keeps touching them. Citation
    counts are geometric-skewed."""
    rng = np.random.default_rng([seed, 2])
    n_authors = max(50, n_papers // 2)
    papers = []
    for k in range(n_papers):
        n_auth = int(rng.integers(1, 5))
        chosen = []
        while len(chosen) < n_auth:
            a = int(rng.zipf(ZIPF_A)) - 1
            a = a if a < n_authors else int(rng.integers(0, n_authors))
            if a not in chosen:
                chosen.append(a)
        venue = int(rng.integers(0, 30))
        papers.append({
            "id": f"{2000 + k // 100000:04d}.{k % 100000:05d}",
            "subject": SUBJECTS[int(rng.integers(0, len(SUBJECTS)))],
            "published-year": int(rng.integers(1995, 2023)),
            "type": TYPES[int(rng.integers(0, len(TYPES)))],
            "container-title": f"Venue {venue}",
            "publisher": f"Publisher {venue % 7}",
            "is-referenced-by-count": int(min(rng.geometric(0.08) - 1, 400)),
            "doi": f"10.1000/bench.{seed}.{k}",
            "title": f"Paper {k} on {NOUNS[k % len(NOUNS)]}s",
            "latest_version": f"v{int(rng.integers(1, 4))}",
            "authors_merged": [_author(a) for a in chosen]})
    return papers


def batches_with_replays(seed, papers, batch_size, replays_per_batch, seen):
    """Split ``papers`` into batches of ``batch_size`` rows, of which
    ``replays_per_batch`` are exact replays of papers committed earlier
    (in ``seen`` or an earlier batch): a replay must add nothing."""
    rng = np.random.default_rng([seed, 3])
    out, pos, seen = [], 0, list(seen)
    while pos < len(papers):
        n_rep = min(replays_per_batch, len(seen))
        fresh = papers[pos:pos + batch_size - n_rep]
        pos += len(fresh)
        reps = [seen[int(i)] for i in rng.choice(len(seen), n_rep, replace=False)]
        out.append(fresh + reps)
        seen.extend(fresh)
    return out


def papers_table(papers):
    return pa.Table.from_pylist(papers, schema=STAGED_SCHEMA)


def write_papers(papers, path):
    _write(papers_table(papers), path)


def hg_reference(papers):
    """full_name -> (h_index, g_index) over all distinct papers, by the
    definitions the engine implements: h = Σᵢ[cᵢ ≥ i] over citations sorted
    descending; g = Σᵢ[Σ_{j≤i} cⱼ ≥ i²] over the nonzero citations."""
    cites = {}
    seen = set()
    for p in papers:
        if p["id"] in seen:
            continue
        seen.add(p["id"])
        for a in p["authors_merged"]:
            cites.setdefault(a["full_name"], []).append(p["is-referenced-by-count"])
    out = {}
    for name, cs in cites.items():
        cs = sorted(cs, reverse=True)
        h = sum(1 for i, c in enumerate(cs, 1) if c >= i)
        g, cum = 0, 0
        for i, c in enumerate([c for c in cs if c > 0], 1):
            cum += c
            g += cum >= i * i
        out[name] = (h, g)
    return out
