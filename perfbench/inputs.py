"""Seeded benchmark inputs, cached per (workload, seed, size).

Each table is a pure function of the seed:

* ``interleaved_docs`` — the docs table drawn from ``synth.make_doc`` (the
  default document mix: ~20% media spans, a 1% tail of 200-2000-span docs).
  The draw is *stratified* so that the work in one input does not swing with
  the seed: light docs fill an exact span-count histogram over 1..40, and the
  heavy docs come from a narrow band around the middle of synth's heavy
  range. Without this a 200-doc input holds anywhere from 0 to 5 heavy docs
  and the job time moves by half with the seed.
* ``documents`` — the flat-text ``documents(doc_id, text, lang, source,
  n_chars)`` table the curation and training-data layers read, with the
  shape of the sf0.1 test table: a 31-word vocabulary, 10-100 words per doc,
  41% English, 20 round-robin sources, 5% near-duplicates (another doc's text
  plus " dup") and a few exact copies.

Generation runs before set-up and is not timed. A cached file is reused only
when its name matches (workload, seed, size) exactly.
"""

from __future__ import annotations

import json
import os
import random

SPAN_STRUCT = (("kind", "string"), ("text", "string"), ("media_ref", "string"),
               ("offset", "int32"))

# heavy docs for the stratified interleaved draw: synth draws 200..2000 spans
# uniformly; this band keeps the same mean (1100) with a ninth of the spread
HEAVY_BAND = (1000, 1200)
LIGHT_MAX_SPANS = 40
SYNTH_CHECKED = 8  # generated docs compared with synth.make_doc per input

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def _rng(*keys) -> random.Random:
    return random.Random("\x1f".join(str(k) for k in keys))


# ---------------------------------------------------------------------------
# docs tables (doc_id string, spans array<struct>)
# ---------------------------------------------------------------------------

def _light_quota(n_light: int) -> dict[int, int]:
    """Exact span-count histogram: n_light docs spread evenly over 1..40."""
    base, extra = divmod(n_light, LIGHT_MAX_SPANS)
    return {v: base + (1 if v <= extra else 0)
            for v in range(1, LIGHT_MAX_SPANS + 1)}


def _predicted_spans(doc_id: str, seed: int) -> int:
    """Span count ``synth.make_doc(doc_id, seed)`` will draw, without building
    the doc: make_doc's rng is seeded from ``stable_hash64("doc", doc_id,
    seed)`` and draws the heavy-tail coin, then the count. ``interleaved_docs``
    checks every prediction against the built doc."""
    import numpy as np

    from complete_ocr_spark.synth import stable_hash64

    rng = np.random.RandomState(stable_hash64("doc", doc_id, seed) % 2**32)
    if rng.rand() < 0.01:
        return int(rng.randint(200, 2001))
    return int(rng.randint(1, LIGHT_MAX_SPANS + 1))


def _text_block(rng) -> str:
    """``synth._text_block`` with every ``rng.choice(seq)`` drawn as
    ``seq[rng.randint(0, len(seq))]``: numpy's legacy ``choice`` samples a
    sequence exactly that way, so the stream and the text are the same, at a
    tenth of the cost."""
    from complete_ocr_spark.synth import _NAV_WORDS, _WORDS

    if rng.rand() < 0.35:
        n = rng.randint(2, 7)
        links = " ".join(
            f'<a href="#{w}">{w}</a>'
            for w in (_NAV_WORDS[rng.randint(0, len(_NAV_WORDS))]
                      for _ in range(n)))
        return f"<div class=\"nav\">{links}</div>"
    n = rng.randint(8, 40)
    words = [_WORDS[rng.randint(0, len(_WORDS))] for _ in range(n)]
    if rng.rand() < 0.3 and n > 10:
        i = rng.randint(0, n - 1)
        words[i] = f'<a href="#">{words[i]}</a>'
    return "<p>" + " ".join(words) + "</p>"


def make_doc(doc_id: str, seed: int) -> dict:
    """``synth.make_doc(doc_id, seed)``, built with the cheaper
    ``_text_block``; ``interleaved_docs`` checks a sample against synth."""
    from complete_ocr_spark.synth import _rng

    rng = _rng("doc", doc_id, seed)
    if rng.rand() < 0.01:
        n_spans = int(rng.randint(200, 2001))
    else:
        n_spans = int(rng.randint(1, 41))
    spans = []
    for off in range(n_spans):
        if rng.rand() < 0.2:
            spans.append({"kind": "media_ref", "text": None,
                          "media_ref": f"synth://page/{doc_id}/{off}",
                          "offset": off})
        else:
            n_blocks = rng.randint(1, 7)
            text = "\n\n".join(_text_block(rng) for _ in range(n_blocks))
            spans.append({"kind": "text", "text": text, "media_ref": None,
                          "offset": off})
    return {"doc_id": doc_id, "spans": spans}


def interleaved_docs(seed: int, n_docs: int, n_heavy: int) -> list[dict]:
    """Stratified draw from synth's default mix (module doc). Candidate ids
    ``doc-%08d`` are scanned in order and each is taken while its stratum has
    room, so the result is a pure function of (seed, n_docs, n_heavy). Only
    the chosen docs are built, by ``make_doc`` (synth's generator at a tenth
    of its cost); the first ``SYNTH_CHECKED`` are compared with
    ``synth.make_doc``."""
    from complete_ocr_spark import synth

    quota = _light_quota(n_docs - n_heavy)
    heavy_left = n_heavy
    docs = []
    i = 0
    while heavy_left or any(quota.values()):
        doc_id = f"doc-{i:08d}"
        n = _predicted_spans(doc_id, seed)
        take = n <= LIGHT_MAX_SPANS and quota[n] > 0
        if take:
            quota[n] -= 1
        elif heavy_left and HEAVY_BAND[0] <= n <= HEAVY_BAND[1]:
            heavy_left -= 1
            take = True
        if take:
            doc = make_doc(doc_id, seed)
            if len(doc["spans"]) != n:
                raise RuntimeError(
                    f"synth.make_doc({doc_id!r}, {seed}) built "
                    f"{len(doc['spans'])} spans, predicted {n}: update "
                    "_predicted_spans to synth")
            docs.append(doc)
        i += 1
    for doc in docs[:SYNTH_CHECKED]:
        if doc != synth.make_doc(doc["doc_id"], seed):
            raise RuntimeError(
                f"perfbench make_doc({doc['doc_id']!r}, {seed}) differs from "
                "synth.make_doc: update it to synth")
    return docs


def docs_properties(docs: list[dict]) -> dict:
    spans = [s for d in docs for s in d["spans"]]
    texts = [s["text"] for s in spans if s["kind"] == "text"]
    in_heavy = sum(len(d["spans"]) for d in docs if len(d["spans"]) >= 200)
    return {
        "docs": len(docs),
        "spans": len(spans),
        "media_share": round(sum(s["kind"] == "media_ref" for s in spans)
                             / len(spans), 4),
        "heavy_doc_span_share": round(in_heavy / len(spans), 4),
        "mean_text_bytes": round(sum(len(t.encode()) for t in texts)
                                 / max(1, len(texts)), 1),
    }


def _write_docs(path: str, docs: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct([(k, getattr(pa, t)()) for k, t in SPAN_STRUCT])
    table = pa.Table.from_pydict(
        {"doc_id": [d["doc_id"] for d in docs],
         "spans": [d["spans"] for d in docs]},
        schema=pa.schema([("doc_id", pa.string()),
                          ("spans", pa.list_(span_t))]),
    )
    # small row groups: the scan splits across cores (synth's layout)
    pq.write_table(table, path, row_group_size=32)


# ---------------------------------------------------------------------------
# flat documents table (curation / training-data inputs)
# ---------------------------------------------------------------------------

def documents(seed: int, n_docs: int) -> list[dict]:
    rng = _rng("documents", seed)
    langs, weights = zip(*_LANGS)
    rows = []
    for i in range(n_docs):
        text = " ".join(rng.choice(_DOC_WORDS)
                        for _ in range(rng.randint(10, 100)))
        rows.append({"doc_id": i, "text": text,
                     "lang": rng.choices(langs, weights)[0],
                     "source": f"src{i % 20}"})
    # near-duplicates: 5% of docs become another doc's text + " dup";
    # exact copies: 0.2% of docs repeat another doc's text verbatim
    for frac, suffix in ((0.05, " dup"), (0.002, "")):
        for i in rng.sample(range(n_docs), int(n_docs * frac)):
            j = rng.randrange(n_docs)
            if j != i:
                rows[i]["text"] = rows[j]["text"] + suffix
    for r in rows:
        r["n_chars"] = len(r["text"])
    return rows


def documents_properties(rows: list[dict]) -> dict:
    texts = [r["text"] for r in rows]
    return {
        "docs": len(rows),
        "en_share": round(sum(r["lang"] == "en" for r in rows) / len(rows), 4),
        "near_dup_share": round(sum(t.endswith(" dup") for t in texts)
                                / len(rows), 4),
        "mean_text_bytes": round(sum(len(t) for t in texts) / len(rows), 1),
    }


def _write_documents(path: str, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]))
    pq.write_table(table, path, row_group_size=256)


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

def cached(cache_dir: str, kind: str, seed: int, size: str, make) -> tuple[str, dict]:
    """Return (parquet path, properties) for one input, generating it on a
    miss. ``make()`` returns (writer, rows, properties); the file is written
    under a temporary name and renamed, so a killed run leaves no half file
    behind under the cached name."""
    os.makedirs(cache_dir, exist_ok=True)
    stem = os.path.join(cache_dir, f"{kind}-s{seed}-{size}")
    path, meta = stem + ".parquet", stem + ".json"
    if os.path.exists(path) and os.path.exists(meta):
        with open(meta) as f:
            return path, json.load(f)
    writer, rows, props = make()
    writer(path + ".tmp", rows)
    with open(meta + ".tmp", "w") as f:
        json.dump(props, f)
    os.replace(path + ".tmp", path)
    os.replace(meta + ".tmp", meta)
    return path, props


def interleaved_input(cache_dir: str, seed: int, n_docs: int,
                      n_heavy: int) -> tuple[str, dict]:
    def make():
        docs = interleaved_docs(seed, n_docs, n_heavy)
        return _write_docs, docs, docs_properties(docs)

    return cached(cache_dir, "interleaved", seed, f"n{n_docs}h{n_heavy}", make)


def documents_input(cache_dir: str, seed: int, n_docs: int) -> tuple[str, dict]:
    def make():
        rows = documents(seed, n_docs)
        return _write_documents, rows, documents_properties(rows)

    return cached(cache_dir, "documents", seed, f"n{n_docs}", make)


def read_docs(path: str) -> dict[str, dict]:
    """doc_id -> docs row, as the oracle takes it."""
    import pyarrow.parquet as pq

    return {r["doc_id"]: r for r in pq.read_table(path).to_pylist()}
