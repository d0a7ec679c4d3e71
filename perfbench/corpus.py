"""Seeded benchmark inputs and their oracle.

Inputs are written to parquet before any timing starts; the job under test
reads nothing else.  The expected output of every input comes from the
repository's pure-Python reference decoder (``tests/oracle.py``), reduced
to an order-insensitive digest that the written parquet is compared with.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Word table and length range of the driver's sf0.1 ``documents.parquet``
# (30 equiprobable words, 10..100 words per document): the passthrough
# corpus has the same shape without reading anything outside the checkout.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "fr", "es", "de")

SPAN_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))
SPANS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPAN_TYPE)])

# separator and NULL marker of the canonical row string; neither occurs in
# generated text
SEP = "\x1f"
NULL = "\x00"


def write_text_documents(path: str, n_docs: int, seed: int, n_files: int) -> None:
    """``documents.parquet``-shaped table (doc_id, text, lang, source,
    n_chars) of seeded word sequences; doc ids carry the seed so buckets and
    hash partitions move with it."""
    rng = random.Random(f"perfbench-text:{seed}")
    ids, texts, langs, sources = [], [], [], []
    for i in range(n_docs):
        ids.append(seed * 10_000_000 + i)
        texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))))
        langs.append(rng.choice(LANGS))
        sources.append(f"src{i % 20}")
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": texts, "lang": langs,
        "source": sources, "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write_split(table, path, n_files)


def write_payload_documents(path: str, n_docs: int, seed: int, n_files: int) -> None:
    """``synth.generate_docs``-shaped span table: every 2nd document a
    ``synth://`` payload, every 37th 120 pages, corrupt payloads and
    annotations, documents without media.

    Annotations are corrupted every 29th document instead of the default
    23rd: every corrupt payload (each 46th document) is also a multiple of
    23, so with the default the annotation error masks every decode error
    and the decode error path never runs."""
    from chug_spark.synth import make_doc

    rows = [make_doc(i, seed, corrupt_every=29) for i in range(n_docs)]
    table = pa.Table.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in rows], schema=SPANS_SCHEMA
    )
    _write_split(table, path, n_files)


def _write_split(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = math.ceil(table.num_rows / n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"))


def read_span_rows(path: str) -> list:
    """(doc_id, spans) rows of a span-table parquet directory."""
    return [(r["doc_id"], r["spans"]) for r in pq.read_table(path).to_pylist()]


def row_digest(*fields) -> int:
    """60-bit md5 prefix of one canonical row (summed, so order-insensitive)."""
    s = SEP.join(NULL if f is None else str(f) for f in fields)
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def table_digest(path: str, cols: list, distinct: bool = False) -> tuple:
    """(rows, summed ``row_digest``, distinct first column) of the parquet
    files a job wrote under ``path``."""
    t = pq.read_table(path, columns=cols)
    rows = list(zip(*(t.column(c).to_pylist() for c in cols)))
    if distinct:
        rows = list(set(rows))
    return len(rows), sum(row_digest(*r) for r in rows), len({r[0] for r in rows})


class Expected:
    """Oracle output of one input: span/error digests plus the decode work
    the input implies.

    ``pages`` counts the selected payload pages the decode UDF renders in
    one pass (with the ``all_valid`` wraparound duplicates),
    ``distinct_pages`` the distinct (doc, page) pairs among them,
    ``error_chunks`` the decode-error rows one pass emits (one per chunk of a
    corrupt payload) and ``kernel_pages`` the (seed, page) render calls."""

    def __init__(self, rows: list, render_dpi: int, page_sampling: str, seed: int,
                 max_pages_per_task: int):
        import oracle
        from chug_spark import media

        spans, errors = oracle.extract_corpus(
            rows, page_sampling=page_sampling, seed=seed, render_dpi=render_dpi,
            image_mode="L",
        )
        self.docs = len(spans)
        self.span_rows = sum(len(v) for v in spans.values())
        self.span_sum = sum(
            row_digest(d, off, kind, text, ref)
            for d, v in spans.items() for kind, text, ref, off in v
        )
        self.error_set = set(errors)
        self.error_sum = sum(row_digest(*e) for e in self.error_set)
        self.policy_error_docs = sum(1 for e in self.error_set if e[1] == "anno")
        self.decode_error_docs = sum(1 for e in self.error_set if e[1] == "media")

        policy_failed = {d for d, stage, _ in self.error_set if stage == "anno"}
        self.payload_docs = 0
        self.passthrough_rows = 0
        self.pages = self.distinct_pages = self.error_chunks = 0
        self.kernel_pages = []
        for doc_id, doc_spans in rows:
            medias = sorted((s for s in doc_spans or [] if s["kind"] == "media"),
                            key=lambda s: s["offset"])
            is_payload = bool(medias) and media.is_payload_ref(medias[0]["media_ref"])
            if not is_payload:
                self.passthrough_rows += len(spans.get(doc_id, ()))
                continue
            self.payload_docs += 1
            if doc_id in policy_failed or not doc_spans:
                continue
            annos = sorted((s for s in doc_spans if s["kind"] == "anno"),
                           key=lambda s: s["offset"])
            pages = _json_pages(annos[0]["text"])
            idx = oracle.select_page_indices(doc_id, pages, page_sampling, seed)
            try:
                _, n_pages, pseed = media.parse_payload_ref(medias[0]["media_ref"])
            except ValueError:
                self.error_chunks += math.ceil(len(idx) / max_pages_per_task)
                continue
            self.pages += len(idx)
            self.distinct_pages += len({p % n_pages for p in idx})
            self.kernel_pages.extend((pseed, p % n_pages) for p in idx)


def _json_pages(anno_text: str) -> list:
    import json

    return json.loads(anno_text)["pages"]
