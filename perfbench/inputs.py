"""Seeded input generators for the benchmark, independent of the package.

Every table is a pure function of (seed, size, this file's source). The
generator mirrors the package's synthetic corpus (``corpus.py``: its
31-word vocabulary, fragment kinds and shares, runaway pages and
Zipf-skewed hosts, one seeded stream per document) but is a copy, not
an import, so a program change can never change what is measured.
Tables are written with pyarrow (no Spark job) at a fixed file count of
several times the core count, and cached under a key of (kind, seed,
size, generator hash).

Three shapes:

- ``documents(doc_id, spans)``: the interleaved span table pipeline B
  reads (spans workload).
- ``pages(doc_id, page_no, content)``: raw model-output pages pipeline A
  reads (pages workload; the serving probe posts the same pages).
- ``flat(doc_id, text, lang)``: the curation corpus, built the way the
  repo's own curation benchmark builds it (``bench.py``): each span
  document flattened to its span texts joined by a space, with a domain
  tag at 60/20/10/10 shares. On top of that, ``PLANTED_DUP_SHARE`` of the
  rows are planted copies of another row with one word changed.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 16  # 4x the 4 cores the benchmark runs on: no ragged scan bins

EOS = "<｜end▁of▁sentence｜>"

WORDS = (
    "the quick table scan filter join merge sort window group order value "
    "key row column batch stream spark query part line customer data fast "
    "slow big small agg hash"
).split()
HOSTS = [f"host{i:02d}.example" for i in range(20)]
_HOST_W = 1.0 / np.arange(1, len(HOSTS) + 1)
HOST_P = _HOST_W / _HOST_W.sum()  # Zipf: host00 holds ~28% of the doc ids
TITLE_KINDS = ["title", "text", "table", "formula"]
BOILER_KINDS = ["footer", "nav"]
RUNAWAY_PAGE_SHARE = 0.06  # pages of multi-page docs without EOS

PLANTED_DUP_SHARE = 0.10  # curation rows that are one-word-changed copies
LANGS = ("en",) * 6 + ("zh", "zh", "de", "fr")


def _source_hash() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _sentence(rng: np.random.Generator, n: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def _bbox(rng: np.random.Generator) -> str:
    x1, y1 = int(rng.integers(0, 500)), int(rng.integers(0, 500))
    x2, y2 = x1 + int(rng.integers(10, 499)), y1 + int(rng.integers(10, 499))
    return f"[[{min(x1, 999)}, {min(y1, 999)}, {min(x2, 999)}, {min(y2, 999)}]]"


def _ground(label: str, det: str) -> str:
    return f"<|ref|>{label}<|/ref|><|det|>{det}<|/det|>"


def _fragment(rng: np.random.Generator) -> tuple[str, str]:
    """(span kind, raw text) of one page fragment."""
    roll = rng.random()
    if roll < 0.18:  # image grounding block -> media span
        return "image", _ground("image", _bbox(rng))
    if roll < 0.34:  # layout-grounded block with a well-formed det box
        kind = TITLE_KINDS[int(rng.integers(0, len(TITLE_KINDS)))]
        body = _sentence(rng, int(rng.integers(3, 10)))
        if kind == "formula":
            body = f"\\[ E \\coloneqq mc^2 \\quad ({int(rng.integers(1, 9))}) \\]"
        return kind, _ground(kind, _bbox(rng)) + body
    if roll < 0.38:  # det payload that fails the box grammar
        return "text", _ground("text", "[[12, 34") + _sentence(rng, 4)
    if roll < 0.40:  # literal-but-not-box dets, dangling ref tags
        det = ("(1, 2)", "[]", "[[1,2,\n3,4]]", "[[9,9,9]]")[int(rng.integers(0, 4))]
        extra = "<|ref|>dangling" if rng.random() < 0.3 else ""
        return "text", _ground("text", det) + _sentence(rng, 3) + extra
    if roll < 0.46:  # footer/nav blocks (dropped by pipeline B)
        kind = BOILER_KINDS[int(rng.integers(0, 2))]
        return kind, _ground(kind, _bbox(rng)) + "| home | about | contact |"
    if roll < 0.52:  # <td> cells (whitelisted from repetition collapse)
        return "table", ("<td>" + _sentence(rng, 2) + "</td>") * int(rng.integers(2, 5))
    if roll < 0.58:  # LaTeX, newline runs, <center>
        nl = "\n" * int(rng.integers(3, 5))
        return "text", f"x \\coloneqq y \\eqqcolon z{nl}<center>{_sentence(rng, 5)}</center>"
    return "text", _sentence(rng, int(rng.integers(5, 30)))


def gen_doc(seed: int, i: int) -> tuple[str, list[dict], list[str]]:
    """Document ``i``: (doc_id, spans in document order, page contents).
    A runaway page is one span of a 5-word phrase repeated 50 times and
    a page without EOS (SKIP_REPEAT drops it)."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, i]))
    doc_id = f"doc-{HOSTS[int(rng.choice(len(HOSTS), p=HOST_P))]}-{i:08d}"
    n_pages = int(rng.integers(1, 5))
    frags: list[tuple[str, str]] = []
    pages: list[str] = []
    for _ in range(n_pages):
        if rng.random() < RUNAWAY_PAGE_SHARE and n_pages > 1:
            content = ((_sentence(rng, 5) + " ") * 50).rstrip()
            frags.append(("text", content))
            pages.append(content)
            continue
        page = [_fragment(rng) for _ in range(int(rng.integers(2, 9)))]
        frags.extend(page)
        pages.append("\n".join(raw for _, raw in page) + EOS)
    spans = [
        {"kind": k, "text": t, "media_ref": None, "offset": o}
        for o, (k, t) in enumerate(frags)
    ]
    return doc_id, spans, pages


# ---------------------------------------------------------------------------
# table builders
# ---------------------------------------------------------------------------

_SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
     ("offset", pa.int32())]
)
DOCUMENTS_T = pa.schema([pa.field("doc_id", pa.string(), False), ("spans", pa.list_(_SPAN_T))])
PAGES_T = pa.schema(
    [pa.field("doc_id", pa.string(), False), pa.field("page_no", pa.int32(), False),
     ("content", pa.string())]
)
FLAT_T = pa.schema([pa.field("doc_id", pa.string(), False), ("text", pa.string()), ("lang", pa.string())])


def documents_rows(seed: int, n_docs: int) -> list[tuple[str, list[dict]]]:
    return [(d, spans) for d, spans, _ in (gen_doc(seed, i) for i in range(n_docs))]


def documents_table(rows: list[tuple[str, list[dict]]]) -> pa.Table:
    return pa.table(
        {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]},
        schema=DOCUMENTS_T,
    )


_BOX = re.compile(r"^\s*\[\s*(\[\s*\d+\s*(,\s*\d+\s*){3}\]\s*,?\s*)+\]\s*$")
_DET = re.compile(r"<\|ref\|>(.*?)<\|/ref\|><\|det\|>(.*?)<\|/det\|>", re.DOTALL)


def page_properties(pages: list[str]) -> dict:
    """Measured shares the extraction work depends on: image blocks
    among grounding blocks, det payloads failing the box grammar, and
    runaway pages (no EOS)."""
    blocks = [m for p in pages for m in _DET.findall(p)]
    n = max(len(blocks), 1)
    return {
        "image_block_share": sum(1 for b in blocks if b[0] == "image") / n,
        "malformed_det_share": sum(1 for b in blocks if not _BOX.match(b[1])) / n,
        "runaway_page_share": sum(1 for p in pages if EOS not in p) / max(len(pages), 1),
    }


def span_properties(rows: list[tuple[str, list[dict]]]) -> dict:
    """The same shares over the interleaved span table; a runaway page
    appears there as one span of a 5-word phrase repeated 50 times."""
    spans = [s for _, ss in rows for s in ss]
    blocks = [m for s in spans for m in _DET.findall(s["text"])]
    n = max(len(blocks), 1)

    def runaway(t: str) -> bool:
        toks = t.split(" ")
        return len(toks) == 250 and toks == toks[:5] * 50

    return {
        "image_span_share": sum(s["kind"] == "image" for s in spans) / max(len(spans), 1),
        "malformed_det_share": sum(1 for b in blocks if not _BOX.match(b[1])) / n,
        "runaway_span_share": sum(runaway(s["text"]) for s in spans) / max(len(spans), 1),
    }


def pages_docs(seed: int, n_docs: int) -> list[tuple[str, list[str]]]:
    return [(d, pages) for d, _, pages in (gen_doc(seed, i) for i in range(n_docs))]


def pages_table(docs: list[tuple[str, list[str]]]) -> pa.Table:
    rows = [(d, p, c) for d, pages in docs for p, c in enumerate(pages)]
    return pa.table(
        {"doc_id": [r[0] for r in rows], "page_no": [r[1] for r in rows],
         "content": [r[2] for r in rows]},
        schema=PAGES_T,
    )


MIN_PLANT_WORDS = 40  # originals long enough that one changed word keeps
# the pair far above the dedup job's Jaccard threshold of 0.5


def flat_table(seed: int, n_docs: int) -> tuple[pa.Table, list]:
    """Curation corpus and its planted (original, copy) id pairs.

    ``n_docs`` counts originals and copies together: the first
    ``n_docs - n_copies`` span documents flattened, then one copy of
    each of ``n_copies`` originals drawn without replacement among the
    rows of at least MIN_PLANT_WORDS words."""
    n_copies = round(n_docs * PLANTED_DUP_SHARE)
    n_orig = n_docs - n_copies
    ids, texts = [], []
    for doc_id, spans, _ in (gen_doc(seed, i) for i in range(n_orig)):
        ids.append(doc_id)
        texts.append(" ".join(s["text"] for s in spans))
    # the planting stream is apart from the per-document ones
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0x5EED, n_docs]))
    eligible = [i for i, t in enumerate(texts) if len(t.split(" ")) >= MIN_PLANT_WORDS]
    pairs = []
    for j, o in enumerate(rng.choice(eligible, n_copies, replace=False)):
        toks = texts[o].split(" ")
        k = int(rng.integers(0, len(toks)))
        # a token may hold a line break ("z\n\n\n<center>the"), so only
        # the part before it is replaced
        _, nl, tail = toks[k].partition("\n")
        toks[k] = "perturbed" + nl + tail
        copy_id = f"{ids[o].rsplit('-', 1)[0]}-{n_orig + j:08d}"
        ids.append(copy_id)
        texts.append(" ".join(toks))
        pairs.append((ids[o], copy_id))
    order = rng.permutation(len(ids))  # copies spread over every file
    langs = [LANGS[int(v)] for v in rng.integers(0, len(LANGS), len(ids))]
    table = pa.table(
        {"doc_id": [ids[i] for i in order], "text": [texts[i] for i in order],
         "lang": [langs[i] for i in order]},
        schema=FLAT_T,
    )
    return table, pairs


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def write_files(table: pa.Table, path: str) -> None:
    """Write ``table`` as N_FILES parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * step, step), f"{path}/part-{k:03d}.parquet")


def cached(cache_dir: str, kind: str, seed: int, size: int, build) -> tuple[str, dict]:
    """Directory of the cached table (built by ``build() -> (table,
    meta)`` when absent) and its JSON-able metadata."""
    prefix = f"{kind}-s{seed}-n{size}-"
    path = os.path.join(cache_dir, prefix + _source_hash())
    meta_path = os.path.join(path, "_meta.json")
    if not os.path.exists(meta_path):
        # drop this table's entries from older generator versions too
        for stale in glob.glob(os.path.join(cache_dir, glob.escape(prefix) + "*")):
            shutil.rmtree(stale, ignore_errors=True)
        table, meta = build()
        write_files(table, f"{path}/data")
        with open(meta_path, "w") as f:
            json.dump(meta, f)
        os.sync()  # no write-back of fresh inputs during the timed run
    with open(meta_path) as f:
        return f"{path}/data", json.load(f)
