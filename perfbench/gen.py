"""Seeded inputs and reference models for the perfbench workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. The reference models (tidy fact, selection statistics, KPIs,
the changeset replay) are computed from the rows the generator wrote,
never through the engine, so the harness can check the engine's answers
against them.
"""
import json
import math
import os
import random
import struct

import pyarrow as pa
import pyarrow.parquet as pq

# Antigen columns of the OWID extract. The last one is spelled with a
# mixed-case prefix so the engine's case-insensitive column discovery and
# prefix strip do real work; its antigen key is "MenA".
ANTIGENS = ["bcg", "dtp1", "dtp3", "hepb3", "hepb_bd", "hib3", "ipv1",
            "mcv1", "mcv2", "pcv3", "pol3", "rcv1", "rotac"]
HEADERS = ["coverage__" + a for a in ANTIGENS] + ["Coverage__MenA"]
KEYS = ANTIGENS + ["MenA"]
YEARS = range(1980, 2027)  # 47 years
YEAR_LO, YEAR_HI = 1980, 2100
WINDOW = (2000, 5, 5)  # EtlCli defaults: start year, pre years, post years
BUCKETS = 16


def rng(seed, purpose):
    # str seeds hash through sha512, so streams are stable across
    # interpreter runs and independent of each other
    return random.Random(f"{seed}:{purpose}")


def exact_mean(values):
    """The engine's order-independent mean: floor(x*1e6) summed exactly."""
    if not values:
        return None
    return float(sum(math.floor(v * 1e6) for v in values)) / len(values) / 1e6


def country_name(i):
    return f"Country {i:04d}"


def wide_csv(seed, entities):
    """An OWID-shaped wide CSV as text, and the tidy model
    {(country, antigen, year): coverage_pct} the engine must publish.

    Edge rows (FIXTURES.md A1): years 1979 and 2101 (filtered out),
    all-empty coverage rows (dropped), exact duplicate (entity, year) rows
    (deduplicated), the extra `Code` column (ignored) and the mixed-case
    `Coverage__` header."""
    r = rng(seed, "wide")
    model = {}
    lines = ["Entity,Code,Year," + ",".join(HEADERS)]
    dups = []

    def row(country, code, year, cells):
        line = f"{country},{code},{year}," + ",".join(cells)
        lines.append(line)
        return line

    for e in range(entities):
        country = country_name(e)
        code = f"C{e:04d}"
        base = [r.randint(300, 950) for _ in KEYS]
        trend = [r.randint(-8, 12) for _ in KEYS]
        years = list(YEARS)
        if e % 50 == 0:
            years = [1979] + years + [2101]
        for year in years:
            empty_row = r.random() < 0.01
            cells = []
            for k, key in enumerate(KEYS):
                if empty_row or r.random() < 0.08:
                    cells.append("")
                    continue
                t = base[k] + trend[k] * (year - 2000) + r.randint(-40, 40)
                t = min(999, max(0, t))
                cells.append(f"{t // 10}.{t % 10}")
                if YEAR_LO <= year <= YEAR_HI:
                    model[(country, key, year)] = t / 10
            line = row(country, code, year, cells)
            if e % 40 == 7 and year == 2001:
                dups.append(line)
    lines.extend(dups)  # far from their originals, so dedup must shuffle
    return "\n".join(lines) + "\n", model


def write_wide_csv(path, seed, entities):
    text, model = wide_csv(seed, entities)
    with open(path, "w", newline="\n") as f:
        f.write(text)
    return model


def series_of(model):
    """{(country, antigen): [(year, coverage_pct)] ordered by year}."""
    out = {}
    for (c, a, y), v in model.items():
        out.setdefault((c, a), []).append((y, v))
    for pts in out.values():
        pts.sort()
    return out


def before_after(points):
    start, pre, post = WINDOW
    before = [v for y, v in points if start - pre <= y <= start - 1]
    after = [v for y, v in points if start <= y <= start + post]
    return {"n_before": len(before), "n_after": len(after),
            "mean_before": exact_mean(before), "mean_after": exact_mean(after)}


def antigens_by_country(series):
    out = {}
    for c, a in series:
        out.setdefault(c, set()).add(a)
    return {c: sorted(a) for c, a in out.items()}


def selection(pair, series, antigens):
    """Expected answer of one explorer selection."""
    points = series[pair]
    return {"country": pair[0], "antigen": pair[1],
            "series": [[y, v] for y, v in points], **before_after(points),
            "antigens": antigens[pair[0]]}


def etl_plan(model, seed, n_refresh):
    """Expected answers of the etl_refresh rounds: the fact's row count, the
    overview page (KPIs per series, in (country, antigen) order), and one
    selection per refresh among the pairs with at least two points on each
    side of the campaign window, so the Welch path runs."""
    series = series_of(model)
    eligible = sorted(p for p, pts in series.items()
                      if min(before_after(pts)["n_before"],
                             before_after(pts)["n_after"]) >= 2)
    r = rng(seed, "etl")
    picks = [r.choice(eligible) for _ in range(n_refresh)]
    antigens = antigens_by_country(series)
    kpis = []
    for (c, a), pts in sorted(series.items()):
        kpis.append([c, a, pts[0][0], pts[-1][0], len(pts), pts[0][1],
                     pts[-1][1], exact_mean([v for _, v in pts])])
    return {"fact_rows": len(model), "kpis": kpis,
            "selections": [selection(p, series, antigens) for p in picks]}


FACT_SCHEMA = pa.schema([
    ("fact_id", pa.int64()), ("country", pa.string()), ("antigen", pa.string()),
    ("year", pa.int32()), ("coverage_pct", pa.float64()), ("pbucket", pa.int32())])
CHANGE_SCHEMA = pa.schema([
    ("fact_id", pa.int64()), ("op", pa.string()), ("country", pa.string()),
    ("antigen", pa.string()), ("year", pa.int32()), ("coverage_pct", pa.float64()),
    ("pbucket", pa.int32())])


def _write_parquet(path, schema, rows):
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema)
    pq.write_table(table, path, compression="snappy")


def tx_keyed_fact(model):
    """The keyed fact: fact_id in (country, antigen, year) order, bucket by
    country. Rows are (fact_id, country, antigen, year, tenths, pbucket)."""
    rows = []
    for i, (c, a, y) in enumerate(sorted(model)):
        rows.append((i, c, a, y, round(model[(c, a, y)] * 10), int(c[-4:]) % BUCKETS))
    return rows


def changesets(seed, fact, n_batches, frac):
    """Seeded changesets, each about `frac` of the table: mixed
    insert/update/delete on three of the sixteen buckets. No key is touched
    twice across the whole feed (the CDC-compacted contract MergeStream
    documents); inserts take fresh keys and years past the extract."""
    r = rng(seed, "changes")
    live = {row[0]: row for row in fact}
    by_bucket = {}
    for row in fact:
        by_bucket.setdefault(row[5], []).append(row[0])
    for keys in by_bucket.values():
        r.shuffle(keys)
    countries = {}
    for row in fact:
        countries.setdefault(row[5], set()).add(row[1])
    countries = {b: sorted(cs) for b, cs in countries.items()}
    next_id = max(live) + 1
    next_year = {}
    per_batch = max(3, round(len(fact) * frac))
    out = []
    for _ in range(n_batches):
        buckets = r.sample(sorted(by_bucket), 3)
        batch = []
        for j in range(per_batch):
            b = buckets[j % 3]
            kind = ("update", "delete", "insert")[j % 3] if j < 3 else \
                r.choices(("update", "delete", "insert"), weights=(4, 3, 3))[0]
            if kind == "insert" or not by_bucket[b]:
                c = r.choice(countries[b])
                a = r.choice(KEYS)
                y = next_year.get((c, a), 2027)
                next_year[(c, a)] = y + 1
                batch.append(("insert", (next_id, c, a, y, r.randint(0, 999), b)))
                next_id += 1
            else:
                k = by_bucket[b].pop()
                old = live[k]
                if kind == "update":
                    batch.append(("update", old[:4] + (r.randint(0, 999),) + old[5:]))
                else:
                    batch.append(("delete", old))
        out.append(batch)
    return out


def replay(fact, batches):
    """The model table after applying `batches` in order."""
    state = {row[0]: row for row in fact}
    for batch in batches:
        for op, row in batch:
            if op == "delete":
                del state[row[0]]
            else:
                state[row[0]] = row
    return state


def aggregate(state):
    agg = {}
    for _, _, a, _, t, _ in state.values():
        n, s = agg.get(a, (0, 0))
        agg[a] = (n + 1, s + t)
    return {a: list(v) for a, v in sorted(agg.items())}


def tx_plan(workdir, seed, entities, n_batches, frac):
    """Write the keyed fact and the changeset pool under `workdir`; return
    the per-batch expectations (point-read answers and the aggregate of the
    model table after the batch)."""
    fact = tx_keyed_fact(wide_csv(seed, entities)[1])
    _write_parquet(os.path.join(workdir, "fact.parquet"), FACT_SCHEMA,
                   [row[:4] + (row[4] / 10, row[5]) for row in fact])
    pool = os.path.join(workdir, "changes")
    os.makedirs(pool)
    batches = changesets(seed, fact, n_batches, frac)
    state = {row[0]: row for row in fact}
    agg = aggregate(state)
    plan = []
    for i, batch in enumerate(batches):
        name = f"change-{i:04d}.parquet"
        _write_parquet(os.path.join(pool, name), CHANGE_SCHEMA,
                       [(row[0], op) + row[1:4] + (row[4] / 10, row[5])
                        for op, row in batch])
        for op, row in batch:
            old = state.pop(row[0], None)
            if old is not None:
                agg[old[2]][0] -= 1
                agg[old[2]][1] -= old[4]
            if op != "delete":
                state[row[0]] = row
                n_s = agg.setdefault(row[2], [0, 0])
                n_s[0] += 1
                n_s[1] += row[4]
        probes = {}
        for op, row in batch:
            probes.setdefault(op, row[0])
        points = [[k, _row_json(state.get(k))] for k in sorted(probes.values())]
        plan.append({"file": name, "changes": len(batch), "points": points,
                     "agg": {a: list(v) for a, v in sorted(agg.items())},
                     "rows": len(state)})
    return fact, batches, plan


def _row_json(row):
    if row is None:
        return None
    return [row[0], row[1], row[2], row[3], row[4] / 10, row[5]]


def float_bits(v):
    return struct.unpack("<q", struct.pack("<d", v))[0]


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, separators=(",", ":"), sort_keys=True)
