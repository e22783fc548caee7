"""Seeded input generation.  The same seed always gives the same inputs.

Each generator writes one parquet file under the run's work directory;
the workloads hand the library nothing but what they read back from
there.  Only the documents go through Spark (``kgc.synth`` builds them
with Catalyst expressions); the KG and the graph come from
``random.Random(seed)`` in plain Python.

* ``stage_documents`` renders ``kgc.synth.generate_documents`` output as
  raw ``(doc_id, text, source)`` rows: one third each plain text,
  Markdown and HTML, chosen per document from the seed.
* ``stage_kg`` writes a ``(subj, pred, obj, obj_type)`` KG with
  doc→mentions/locations edges, entity @type/name triples, a small
  subClassOf hierarchy, and one hot entity (``ent:1``) on ~10% of the
  mention edges.
* ``stage_hub_graph`` writes a power-law ``(src, dst)`` edge list: one
  mega hub, twenty heavy-tail hubs, chords among the tail leaves and a
  run of isolated pairs.  It has more edges than
  ``kgc.canon.SMALL_GRAPH_THRESHOLD``, so ``connected_components``
  chooses its distributed, salted path on its own.
"""

from __future__ import annotations

import html
import os
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 2000

KG_MENTIONS = 400_000
KG_DOCS = KG_MENTIONS // 4
KG_ENTITIES = KG_MENTIONS // 20
KG_TYPES = ["Person", "Place", "Organization", "Event", "CreativeWork"]
KG_HIERARCHY = [
    ("Person", "Agent"), ("Organization", "Agent"), ("Agent", "Thing"),
    ("Place", "Thing"), ("Event", "Thing"), ("CreativeWork", "Thing"),
]

HUB_LEAVES = 60_000      # neighbours of the mega hub, node 0
TAIL_HUBS = 20
TAIL_LEAVES = 30_000
TAIL_CHORDS = 20_000
ISOLATED_PAIRS = 5_000


def _pick(seed: int, key: str, n: int) -> int:
    return zlib.crc32(f"{seed}:{key}".encode()) % n


# ------------------------------------------------------------ documents ---
def _render_text(spans) -> str:
    return "\n".join(s["text"] for s in spans if s["text"] is not None)


def _render_markdown(spans) -> str:
    blocks = []
    for s in spans:
        if s["text"] is None:
            blocks.append(f"![{s['kind']}]({s['media_ref']})")
        elif s["kind"] == "heading" and s["text"]:
            blocks.append(f"## {s['text']}")
        elif s["text"]:
            blocks.append(s["text"])
    return "\n\n".join(blocks) + "\n"


def _render_html(doc_id: str, spans) -> str:
    body = []
    for s in spans:
        if s["text"] is None:
            tag = "img" if s["kind"] == "image" else "audio"
            body.append(f'<{tag} src="{html.escape(s["media_ref"])}"></{tag}>')
        else:
            tag = "h2" if s["kind"] == "heading" else "p"
            body.append(f"<{tag}>{html.escape(s['text'])}</{tag}>")
    return (
        f"<html><head><title>{doc_id}</title></head><body>"
        + "".join(body) + "</body></html>"
    )


def render_documents(rows, seed: int) -> list[dict]:
    """(doc_id, spans) rows → raw documents in one of three formats."""
    out = []
    for r in rows:
        doc_id, spans = r["doc_id"], r["spans"]
        fmt = _pick(seed, doc_id, 3)
        if fmt == 0:
            text, ext = _render_text(spans), "txt"
        elif fmt == 1:
            text, ext = _render_markdown(spans), "md"
        else:
            text, ext = _render_html(doc_id, spans), "html"
        out.append({"doc_id": doc_id, "text": text, "source": f"{doc_id}.{ext}"})
    return out


def stage_documents(spark, seed: int, path: str, n_docs: int = N_DOCS) -> list[dict]:
    """Generate, render and write the raw documents; returns the rows."""
    from kgc.synth import generate_documents

    par = spark.sparkContext.defaultParallelism
    rows = generate_documents(spark, n_docs=n_docs, seed=seed, n_parts=par).collect()
    docs = render_documents(sorted(rows, key=lambda r: r["doc_id"]), seed)
    cols = {k: [d[k] for d in docs] for k in ("doc_id", "text", "source")}
    _write(path, cols, dict.fromkeys(cols, pa.string()))
    return docs


# ------------------------------------------------------------------- KG ---
def _write(path: str, columns: dict, types: dict) -> str:
    os.makedirs(path, exist_ok=True)
    table = pa.table({k: pa.array(v, type=types[k]) for k, v in columns.items()})
    pq.write_table(table, f"{path}/part-0.parquet")
    return path


def stage_kg(seed: int, path: str) -> str:
    rng = random.Random(seed)
    subj, pred, obj, kind = [], [], [], []

    def add(s, p, o, k):
        subj.append(s)
        pred.append(p)
        obj.append(o)
        kind.append(k)

    for _ in range(KG_MENTIONS):
        hot = rng.random() < 0.1
        e = 1 if hot else rng.randrange(KG_ENTITIES)
        add(f"doc:{rng.randrange(KG_DOCS)}", "mentions", f"ent:{e}", "node")
    for d in range(KG_DOCS):
        add(f"doc:{d}", "locations", f"ent:{rng.randrange(KG_ENTITIES)}", "node")
    for e in range(KG_ENTITIES):
        add(f"ent:{e}", "@type", rng.choice(KG_TYPES), "literal")
        add(f"ent:{e}", "name", f"entity {e}", "literal")
    for a, b in KG_HIERARCHY:
        add(a, "subClassOf", b, "node")
    cols = {"subj": subj, "pred": pred, "obj": obj, "obj_type": kind}
    return _write(path, cols, dict.fromkeys(cols, pa.string()))


# ------------------------------------------------------------ hub graph ---
def stage_hub_graph(seed: int, path: str) -> str:
    rng = random.Random(seed)
    leaf0 = HUB_LEAVES + TAIL_HUBS + 1          # first tail leaf id
    pair0 = leaf0 + TAIL_LEAVES + 1_000         # first isolated-pair id
    src, dst = [], []
    for i in range(HUB_LEAVES):
        src.append(0)
        dst.append(i + 1)
    for i in range(TAIL_LEAVES):
        src.append(HUB_LEAVES + 1 + rng.randrange(TAIL_HUBS))
        dst.append(leaf0 + i)
    for _ in range(TAIL_CHORDS):  # chords between tail leaves, never a self loop
        i = rng.randrange(TAIL_LEAVES)
        src.append(leaf0 + i)
        dst.append(leaf0 + (i + 1 + rng.randrange(997)) % TAIL_LEAVES)
    for i in range(ISOLATED_PAIRS):
        src.append(pair0 + 2 * i)
        dst.append(pair0 + 2 * i + 1)
    return _write(path, {"src": src, "dst": dst}, dict.fromkeys(("src", "dst"), pa.int64()))
