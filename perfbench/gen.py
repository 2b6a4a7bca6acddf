"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The stream generators also return their own tally of the
entity tokens they placed, built from how each token was drawn, never by
re-reading the written text; the checks compare the program's output
against that tally.

NER contract the tally follows (graft.ner.RuleNer): a whitespace token
is an entity iff it is a gazetteer member or matches ^[A-Z][A-Za-z]+$.
Articles that are malformed JSON, and text fields that are null,
contribute no tokens.
"""
import json
import os
import re

import numpy as np

GAZETTEER = ["hash", "join", "merge", "spark", "stream", "table", "vector", "window"]
ENTITY_RE = re.compile(r"^[A-Z][A-Za-z]+$")

# Stream workload shapes: articles per page, entity vocabulary size and
# Zipf exponent, and token counts per text field.
STREAMS = {
    "stream_small_triggers": dict(
        articles=300, vocab=2000, zipf=1.1,
        title=(4, 10), description=(8, 20), content=(15, 40)),
    "stream_backfill": dict(
        articles=2000, vocab=120000, zipf=0.9,
        title=(6, 14), description=(20, 40), content=(60, 120)),
}

_ONSETS = ["b", "br", "c", "ch", "d", "dr", "f", "g", "gr", "h", "j", "k", "kl",
           "l", "m", "n", "p", "pr", "qu", "r", "s", "sh", "st", "t", "tr", "v",
           "w", "z"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou", "y"]
_CODAS = ["", "", "n", "r", "s", "l", "th", "x", "nd", "rk"]


_SYLLABLES = [o + v + c for o in _ONSETS for v in _VOWELS for c in _CODAS]


def _words(rng, n, max_syllables):
    """`n` lowercase pseudo-words of 1..max_syllables syllables."""
    k = rng.integers(1, max_syllables + 1, n)
    idx = rng.integers(0, len(_SYLLABLES), (n, max_syllables))
    return ["".join(_SYLLABLES[j] for j in row[:m]) for row, m in zip(idx.tolist(), k.tolist())]


def _distinct(rng, size, make):
    """The first `size` distinct words from batches drawn with `make`."""
    out, seen = [], set()
    while len(out) < size:
        for w in make(rng, 2 * (size - len(out)) + 64):
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == size:
                    break
    return out


def _entity_vocab(rng, size):
    """`size` distinct surfaces that meet the NER contract: the gazetteer,
    capitalized names, all-caps acronyms and inner-capital names."""
    def make(rng, n):
        kinds = rng.random(n).tolist()
        return [w.capitalize() if k < 0.85 else w[:5].upper() if k < 0.93
                else "Mc" + w.capitalize()
                for w, k in zip(_words(rng, n, 3), kinds)]
    out = GAZETTEER + _distinct(rng, size - len(GAZETTEER), make)
    assert len(set(out)) == size
    assert all(w in GAZETTEER or ENTITY_RE.match(w) for w in out)
    return np.array(out, dtype=object)


def _filler_vocab(rng, size):
    """Non-entity tokens: lowercase words off the gazetteer plus decoys
    that look like entities but fail the contract."""
    gaz = np.array(GAZETTEER, dtype=object)
    decoys = [
        lambda w, r: w.capitalize() + [",", ".", ":", ";", "'s"][r % 5],
        lambda w, r: w.capitalize() + "-" + w,
        lambda w, r: w[0] + w[1:].capitalize(),
        lambda w, r: w.capitalize() + str(r % 100),
        lambda w, r: "\u00dc" + w,
        lambda w, r: gaz[r % 8].capitalize() + [",", "."][r % 2],
        lambda w, r: gaz[r % 8] + [",", ".", "s!"][r % 3],
        lambda w, r: ["A", "I", "O", "X"][r % 4],
    ]

    def make(rng, n):
        pick = rng.integers(0, 5 * len(decoys), n).tolist()
        return [decoys[p % len(decoys)](w, p) if p < len(decoys) else w
                for w, p in zip(_words(rng, n, 2), pick)]
    out = [w for w in _distinct(rng, size + len(GAZETTEER), make) if w not in GAZETTEER][:size]
    assert not any(w in GAZETTEER or ENTITY_RE.match(w) for w in out)
    return np.array(out, dtype=object)


def _zipf_cdf(n, s):
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


_SEPS = ["  ", "\t", "\n", " \r\n "]


def write_stream_pages(out_dir, workload, seed, pages, shape=None):
    """Write `pages` article pages, one JSON article per line, one file per
    page, with strictly increasing modification times so the file source
    takes them in page order. `shape` overrides parts of the workload's
    shape (used by the tests).

    Returns per-page lists: "articles" (lines written), "entity_slots"
    (entity tokens placed) and "tally" (dict surface -> count).
    """
    cfg = dict(STREAMS[workload], **(shape or {}))
    rng = np.random.default_rng([seed, 1])
    ents = _entity_vocab(rng, cfg["vocab"])
    fill = _filler_vocab(rng, max(500, cfg["vocab"] // 10))
    cdf = _zipf_cdf(len(ents), cfg["zipf"])
    rng.shuffle(ents[len(GAZETTEER):])  # Zipf rank independent of spelling
    os.makedirs(out_dir, exist_ok=True)
    base_mtime = 1_700_000_000
    meta = {"articles": [], "entity_slots": [], "tally": []}
    fields = ("title", "description", "content")
    n_art = cfg["articles"]
    for page in range(pages):
        kind = rng.random(n_art)
        malformed = kind < 0.01
        all_null = (kind >= 0.01) & (kind < 0.02)
        lens, nulls = [], []
        for name in fields:
            lo, hi = cfg[name]
            null = all_null | ((rng.random(n_art) < 0.08) if name != "title" else False)
            n = rng.integers(lo, hi + 1, n_art)
            n[null | malformed] = 0
            lens.append(n)
            nulls.append(null)
        total = int(sum(n.sum() for n in lens))
        is_ent = rng.random(total) < 0.35
        slots = int(is_ent.sum())
        ids = np.minimum(np.searchsorted(cdf, rng.random(slots)), len(ents) - 1)
        toks = np.empty(total, dtype=object)
        toks[is_ent] = ents[ids]
        toks[~is_ent] = fill[rng.integers(0, len(fill), total - slots)]
        toks = toks.tolist()
        odd_sep = rng.random((n_art, 3)) < 0.15
        sep_kind = rng.integers(0, len(_SEPS), (n_art, 3))
        pos = 0
        lines = []
        for a in range(n_art):
            serial = page * n_art + a
            if malformed[a]:
                lines.append(_malformed(rng, ents, serial))
                continue
            text = []
            for f in range(3):
                n = int(lens[f][a])
                if nulls[f][a]:
                    text.append(None)
                    continue
                words = toks[pos:pos + n]
                pos += n
                if odd_sep[a, f] and n > 3:
                    cut = n // 2
                    text.append(" ".join(words[:cut]) + _SEPS[sep_kind[a, f]]
                                + " ".join(words[cut:]))
                else:
                    text.append(" ".join(words))
            lines.append(json.dumps({
                "source": {"id": None, "name": f"Wire {serial % 17}"},
                "author": None if serial % 5 == 0 else f"author {serial % 97}",
                "title": text[0],
                "description": text[1],
                "url": f"https://news.example/{seed}/{serial}",
                "publishedAt": "2024-01-01T00:00:00Z",
                "content": text[2],
                "fetchedAt": "2024-01-01T00:05:00Z",
                "query": "technology",
            }))
        assert pos == total
        path = os.path.join(out_dir, f"page-{page:05d}.json")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (base_mtime + page, base_mtime + page))
        counts = np.bincount(ids, minlength=len(ents))
        nz = np.nonzero(counts)[0]
        meta["articles"].append(len(lines))
        meta["entity_slots"].append(slots)
        meta["tally"].append(dict(zip(ents[nz].tolist(), counts[nz].tolist())))
    return meta


def _malformed(rng, ents, serial):
    """A line from_json cannot parse before any text field: its entity-
    looking words must not be counted."""
    word = ents[int(rng.integers(0, len(ents)))]
    return [
        f"<html><body>503 Service Unavailable {word} Gateway</body></html>",
        f"{{title: {word} Breaks, serial: {serial}}}",
        f'{{"source": {{"id": null, "name": "{word} Wire',
    ][serial % 3]


# ---------------------------------------------------------------------------
# batch_mix tables: the test-data table layout (FIXTURES.md §2) at sf0.01.

SF001_ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000,
                  lineitem=60000, events=10000, documents=500, embeddings=500)
DOC_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
             "small", "slow", "merge", "order", "vector", "line", "data", "table",
             "agg", "value", "key", "stream", "window", "a", "spark", "part",
             "group", "big", "sort", "query", "fast", "the"]


def _days(rng, start, end, n):
    d0 = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - d0).astype(int))
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def write_tables(out_dir, seed):
    """Write the ten test-data tables, one parquet file each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    n = SF001_ROWS
    os.makedirs(out_dir, exist_ok=True)

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def pick(values, k):
        return np.array(values, dtype=object)[rng.integers(0, len(values), k)]

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"])}),
        "part": pa.table({
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick(["blue", "cold", "hot", "large", "new", "old", "red", "small"], n["part"]),
                pick(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"],
                     n["part"]))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                           n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n["orders"]),
            "o_totalprice": money(1000, 500000, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], n["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": money(900, 105000, n["lineitem"]),
            "l_discount": np.round(rng.uniform(0, 0.1, n["lineitem"]), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n["lineitem"]), 2),
            "l_returnflag": pick(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": pick(["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n["lineitem"])}),
    }

    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(DOC_WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.standard_normal((10, 64))
    vecs = rng.standard_normal((nv, 64)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
