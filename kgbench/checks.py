"""Correctness references that never run the timed code path.

* build: a fixed document sample replayed through the pure-Python
  twins (``parse_*_py``, ``segment_document_py``, ``scan_text_py``) and
  the E2/E3 emission rules restated here, against the pipeline output.
* query: each SPARQL shape has a DuckDB SQL twin over the same parquet.
* skewed connected components: an in-process union-find over the edges
  read with pyarrow, never through Spark.

Result sets are compared by ``(rows, hashsum)`` where hashsum adds the
first 40 bits of md5 over each row's ``\\x1f``-joined string columns.
Spark, DuckDB and Python compute that value identically.
"""

from __future__ import annotations

import hashlib
import zlib

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEP = "\x1f"


# -------------------------------------------------------------- checksum ---
def spark_checksum(df: DataFrame) -> tuple[int, int]:
    """(rows, hashsum) of every column of ``df`` — one aggregate job."""
    key = F.concat_ws(SEP, *[F.col(c).cast("string") for c in df.columns])
    h = F.conv(F.substring(F.md5(key), 1, 10), 16, 10).cast("bigint")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("h")).first()
    return int(row["n"]), int(row["h"])


def py_checksum(rows) -> tuple[int, int]:
    n = h = 0
    for r in rows:
        n += 1
        h += int(hashlib.md5(SEP.join(str(x) for x in r).encode()).hexdigest()[:10], 16)
    return n, h


def duckdb_checksum(con, sql: str, cols: list[str]) -> tuple[int, int]:
    key = " || '\x1f' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    q = (
        f"SELECT count(*), coalesce(sum(('0x' || substr(md5({key}), 1, 10))::BIGINT), 0) "
        f"FROM ({sql})"
    )
    n, h = con.execute(q).fetchone()
    return int(n), int(h)


# ---------------------------------------------------------------- build ---
# E3: entity type → segment predicate; E2: main-type priority list.
_PRED = {"Person": "mentions", "Place": "locations", "Event": "events"}
_MAIN_TYPES = ["Article", "Person", "Event", "Organization", "Place", "CreativeWork", "Thing"]


def _parse(text: str, source: str) -> list[dict]:
    from kgc.parsers import parse_html_py, parse_markdown_py, parse_text_py

    ext = source.rsplit(".", 1)[-1].lower()
    if ext in ("md", "markdown"):
        return parse_markdown_py(text)
    if ext in ("html", "htm"):
        return parse_html_py(text)[0]
    return parse_text_py(text)


def _canonical_ids(aliases) -> dict[str, str]:
    """Entity ids sharing a normalized alias form one component (min id)."""
    from kgc.mentions import norm_tokens_py

    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    by_alias: dict[str, list[str]] = {}
    for a, eid, _t, _w in aliases:
        by_alias.setdefault(" ".join(norm_tokens_py(a)), []).append(eid)
    for eids in by_alias.values():
        for e in eids:
            ra, rb = find(eids[0]), find(e)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {e: find(e) for eids in by_alias.values() for e in eids}


def sample_doc_ids(docs: list[dict], seed: int, k: int = 24) -> list[str]:
    ids = sorted(d["doc_id"] for d in docs)
    return sorted(ids, key=lambda d: zlib.crc32(f"{seed}/{d}".encode()))[:k]


def expected_build(docs: list[dict], aliases, max_tokens: int) -> dict:
    """Reference triples and quarantine rows for the given raw documents."""
    from kgc.mentions import build_alias_index, norm_tokens_py, scan_text_py
    from kgc.segment import segment_document_py
    from kgc.tokenizer import count_tokens_py

    index, max_n = build_alias_index([a for a, *_ in aliases])
    entries: dict[str, list[tuple[str, str, float]]] = {}
    for a, eid, etype, w in aliases:
        entries.setdefault(" ".join(norm_tokens_py(a)), []).append((eid, etype, w))
    canon = _canonical_ids(aliases)

    seg_triples, ent_triples, quarantine = set(), set(), set()
    for d in docs:
        spans = _parse(d["text"], d["source"])
        if not spans:
            quarantine.add((d["doc_id"], None, "parse", "empty_document"))
        for seg in segment_document_py(spans, max_tokens):
            if count_tokens_py(seg["seg_text"]) > max_tokens:
                quarantine.add((d["doc_id"], seg["seg_id"], "segment", "token_limit_exceeded"))
                continue
            subj = f"seg:{d['doc_id']}#{seg['seg_id']}"
            types = set()
            for m in scan_text_py(seg["seg_text"], index, max_n):
                cands = entries.get(m["alias"], [])
                if not cands:
                    continue
                eid, etype, _ = min(
                    cands, key=lambda c: (-(c[2] * (1.0 + 0.1 * (m["n_toks"] - 1))), c[0])
                )
                ent = f"ent:{canon[eid]}"
                seg_triples.add((subj, _PRED.get(etype, "about"), ent))
                ent_triples.add((ent, "@type", etype))
                ent_triples.add((ent, "name", m["alias"]))
                types.add(etype)
            main = next((t for t in _MAIN_TYPES if t in types), "Thing")
            seg_triples.add((subj, "@type", main))
    return {"seg": seg_triples, "ent": ent_triples, "quarantine": quarantine}


def check_build_sample(stages: dict, docs: list[dict], aliases, max_tokens: int) -> list[str]:
    """Compare one build's output with the reference; returns mismatches."""
    exp = expected_build(docs, aliases, max_tokens)
    prefixes = [f"seg:{d['doc_id']}" for d in docs]
    ent_subjects = sorted({s for s, _, _ in exp["ent"]})
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in stages["triples"]
        .filter(
            F.substring_index("subj", "#", 1).isin(prefixes) | F.col("subj").isin(ent_subjects)
        )
        .select("subj", "pred", "obj")
        .collect()
    }
    got_seg = {t for t in got if t[0].startswith("seg:")}
    got_ent = got - got_seg
    got_q = {
        (r["doc_id"], r["seg_id"], r["stage"], r["reason"])
        for r in stages["quarantine"]
        .filter(F.col("doc_id").isin([d["doc_id"] for d in docs]))
        .collect()
    }
    errors = []
    if got_seg != exp["seg"]:
        errors.append(
            f"segment triples differ: {len(got_seg - exp['seg'])} extra, "
            f"{len(exp['seg'] - got_seg)} missing"
        )
    if not exp["ent"] <= got_ent:
        errors.append(f"{len(exp['ent'] - got_ent)} entity triples missing")
    if got_q != exp["quarantine"]:
        errors.append(f"quarantine differs: {sorted(got_q ^ exp['quarantine'])[:3]}")
    if not exp["seg"]:
        errors.append("reference produced no triples; the sample checks nothing")
    return errors


# ---------------------------------------------------------------- query ---
# DuckDB twins of the SPARQL shapes in workloads.QUERIES, over the KG parquet
# exposed as view ``kg``.  Column order matches the SELECT variable order.
DUCKDB_TWINS = {
    "bgp": (
        """SELECT DISTINCT m.subj AS d, m.obj AS p, l.obj AS pl
           FROM kg m
           JOIN kg tp ON tp.subj = m.obj AND tp.pred = '@type' AND tp.obj = 'Person'
           JOIN kg l ON l.subj = m.subj AND l.pred = 'locations'
           JOIN kg tl ON tl.subj = l.obj AND tl.pred = '@type' AND tl.obj = 'Place'
           WHERE m.pred = 'mentions'""",
        ["d", "p", "pl"],
    ),
    "algebra": (
        """SELECT DISTINCT u.d, u.p, t.obj AS t
           FROM (SELECT subj AS d, obj AS p FROM kg WHERE pred = 'mentions'
                 UNION ALL
                 SELECT subj, obj FROM kg WHERE pred = 'locations') u
           JOIN kg t ON t.subj = u.p AND t.pred = '@type' AND t.obj IN ('Person', 'Place')
           WHERE u.d NOT IN (SELECT subj FROM kg WHERE pred = 'mentions' AND obj = 'ent:1')""",
        ["d", "p", "t"],
    ),
    "scalar": (
        """SELECT DISTINCT t.subj AS e,
                  CASE WHEN length(n.obj) > 8 THEN 'long' ELSE 'short' END AS tag
           FROM kg t JOIN kg n ON n.subj = t.subj AND n.pred = 'name'
           WHERE t.pred = '@type' AND t.obj IN ('Person', 'Place')
             AND contains(n.obj, '1')""",
        ["e", "tag"],
    ),
    "path": (
        """WITH RECURSIVE up(s, o) AS (
               SELECT subj, obj FROM kg WHERE pred = 'subClassOf'
               UNION
               SELECT up.s, k.obj FROM up JOIN kg k ON k.subj = up.o AND k.pred = 'subClassOf')
           SELECT DISTINCT m.subj AS d, up.o AS c
           FROM kg m
           JOIN kg t ON t.subj = m.obj AND t.pred = '@type'
           JOIN up ON up.s = t.obj
           WHERE m.pred = 'mentions'""",
        ["d", "c"],
    ),
    "agg": (
        """SELECT t.obj AS t, count(DISTINCT m.subj) AS nd
           FROM kg m JOIN kg t ON t.subj = m.obj AND t.pred = '@type'
           WHERE m.pred = 'mentions'
           GROUP BY t.obj HAVING count(DISTINCT m.subj) > 10""",
        ["t", "nd"],
    ),
}


def duckdb_expected(kg_path: str) -> dict[str, tuple[int, int]]:
    import duckdb

    con = duckdb.connect(config={"threads": 2})
    try:
        con.execute(f"CREATE VIEW kg AS SELECT * FROM read_parquet('{kg_path}/*.parquet')")
        return {k: duckdb_checksum(con, sql, cols) for k, (sql, cols) in DUCKDB_TWINS.items()}
    finally:
        con.close()


# ---------------------------------------------------------------- canon ---
def union_find_expected(edges_path: str) -> tuple[int, int]:
    """(node, component=min id) checksum over the edge parquet."""
    t = pq.read_table(edges_path)
    parent: dict[int, int] = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(t.column("src").to_pylist(), t.column("dst").to_pylist()):
        if u is None or v is None or u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return py_checksum((n, find(n)) for n in list(parent))
