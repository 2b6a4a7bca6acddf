"""Correctness checks for perfbench runs, independent of the program.

Streams: the query must consume every page, one per trigger; the final
running counts must equal the generator's tally of the entity tokens it
placed; the sum of counts must equal the number of entity slots the
generator filled; and the sum of `numInputRows` must equal the lines
written.

batch_mix: every result of the first pass and of the warm-up pass must
equal DuckDB running the query's oracle SQL (SparkEntry.oracleSql) over
the same parquet tables, compared row
by row after sorting columns by name, with exact equality (NaN equals
NaN).

Each check returns a list of error strings; empty means it passed.
"""
import collections
import glob
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def read_counts(path):
    counts = {}
    with open(path, encoding="utf-8") as f:
        for line in f.read().split("\n"):
            if line:
                entity, n = line.rsplit("\t", 1)
                if entity in counts:
                    raise ValueError(f"entity {entity!r} appears twice in the output")
                counts[entity] = int(n)
    return counts


def check_stream(meta, last_batch, num_input_rows, counts):
    """`meta` is what gen.write_stream_pages returned; batches 0..last_batch
    must each have consumed one page, in page order, and all pages."""
    pages = last_batch + 1
    errors = []
    if pages != len(meta["articles"]):
        return [f"{pages} batches ran for {len(meta['articles'])} pages"]
    expected = collections.Counter()
    for tally in meta["tally"]:
        expected.update(tally)
    wrong = [(e, counts.get(e), n) for e, n in expected.items() if counts.get(e) != n]
    extra = [e for e in counts if e not in expected]
    if wrong or extra:
        errors.append(
            f"counts differ from the generator's tally on {len(wrong)} entities "
            f"(first: {wrong[:3]}) and {len(extra)} unexpected entities (first: {extra[:3]})")
    placed = sum(meta["entity_slots"])
    if sum(counts.values()) != placed:
        errors.append(f"sum of counts {sum(counts.values())} != entity tokens placed {placed}")
    written = sum(meta["articles"])
    if len(num_input_rows) != pages or sum(num_input_rows) != written:
        errors.append(f"numInputRows over {len(num_input_rows)} batches sum to "
                      f"{sum(num_input_rows)}; {written} articles were written to {pages} pages")
    return errors


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in order) for r in rows], [cols[i] for i in order]


def _eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_eq(a[k], b[k]) for k in a)
    return a == b


def check_batch(tables_dir, results_dirs, oracles, names):
    """Compare each named query's parquet result in every one of
    `results_dirs` (one per checked pass) with its DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    errors = []
    for name in names:
        if name not in oracles:
            errors.append(f"{name}: no oracle SQL")
            continue
        try:
            o = con.execute(oracles[name])
            o_cols = [d[0] for d in o.description]
            o_rows, o_cols = _canon(o.fetchall(), o_cols)
        except Exception as e:  # an oracle that cannot run is a failed check
            errors.append(f"{name}: {(str(e).splitlines() or ['error'])[0]}")
            continue
        for results_dir in results_dirs:
            where = f"{name} ({os.path.basename(results_dir)})"
            files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
            if not files:
                errors.append(f"{where}: no result written")
                continue
            try:
                s = con.execute(f"SELECT * FROM read_parquet({json.dumps(files)})")
                s_cols = [d[0] for d in s.description]
                s_rows, s_cols = _canon(s.fetchall(), s_cols)
            except Exception as e:
                errors.append(f"{where}: {(str(e).splitlines() or ['error'])[0]}")
                continue
            if o_cols != s_cols:
                errors.append(f"{where}: columns oracle={o_cols} spark={s_cols}")
            elif len(o_rows) != len(s_rows):
                errors.append(f"{where}: rows oracle={len(o_rows)} spark={len(s_rows)}")
            else:
                bad = [i for i in range(len(o_rows)) if not _eq(o_rows[i], s_rows[i])]
                if bad:
                    i = bad[0]
                    errors.append(f"{where}: {len(bad)}/{len(o_rows)} rows differ; first at {i}: "
                                  f"oracle={o_rows[i]} spark={s_rows[i]}")
    return errors
