"""Seeded input generator for the benchmark workloads.

Every workload gets distinct generated texts (no replicated rows), built
from the same row classes as ``sources.pages.generate_pages`` so every
drop reason and the PII scrub have work to do. Generation draws each
document's words in one batch (~0.1 ms per short doc, against ~0.65 ms
for ``generate_pages``); the result is written as several parquet files,
like a crawl shard directory.

Only :func:`curate_docs` plants duplicates, at the shares stated in
:data:`CURATE_EXACT_SHARE` and :data:`CURATE_NEAR_SHARE`.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from metadata_quality_stack_spark.sources.pages import (
    DOMAIN_WEIGHTS,
    DOMAINS,
    PII_SNIPPETS,
    VOCAB,
    render_html,
)

CLASSES = [
    ("clean_en", 0.30),
    ("clean_other", 0.15),
    ("mislabeled", 0.10),
    ("gibberish", 0.10),
    ("boilerplate", 0.08),
    ("short", 0.07),
    ("symbolic", 0.06),
    ("stuffing", 0.06),
    ("pii", 0.08),
]
OTHER_LANGS = ["es", "de", "fr", "zh"]
GIBBERISH = np.array(list("qwxzkvjpby"))
_WORDS = {lang: np.array(ws, dtype=object) for lang, ws in VOCAB.items()}
_STUFF = np.array(
    [w for w in VOCAB["en"] if w not in {
        "the", "and", "of", "to", "in", "a", "at", "by", "his", "that",
        "with", "was", "would", "had", "over", "after", "about",
    }],
    dtype=object,
)

LONG_DOC_BYTES = 50_000
CURATE_EXACT_SHARE = 0.10  # rows that are byte-identical copies of another row
CURATE_NEAR_SHARE = 0.10  # rows that are copies with ~3% of words replaced
N_FILES = 8


def _prose(rng: np.random.Generator, lang: str, n_sentences: int) -> str:
    words = _WORDS[lang]
    lens = rng.integers(6, 14, n_sentences)
    picks = words[rng.integers(0, len(words), int(lens.sum()))]
    per_line = rng.integers(2, 4, n_sentences)
    lines, cur, pos = [], [], 0
    for k, p in zip(lens, per_line):
        sent = " ".join(picks[pos : pos + k])
        pos += k
        cur.append(sent[0].upper() + sent[1:] + ".")
        if len(cur) >= p:
            lines.append(" ".join(cur))
            cur = []
    if cur:
        lines.append(" ".join(cur))
    return "\n".join(lines)


def _gibberish(rng: np.random.Generator, n_words: int) -> str:
    lens = rng.integers(4, 11, n_words)
    chars = GIBBERISH[rng.integers(0, len(GIBBERISH), int(lens.sum()))]
    flat = "".join(chars)
    ends = np.cumsum(lens)
    words = [flat[e - k : e] for e, k in zip(ends, lens)]
    return "\n".join(
        " ".join(words[i : i + 12]) + "." for i in range(0, n_words, 12)
    )


def _doc(rng: np.random.Generator, cls: str) -> tuple[str, str]:
    """(text, declared lang) for one document of row class ``cls``."""
    if cls == "clean_en":
        return _prose(rng, "en", int(rng.integers(8, 25))), "en"
    if cls == "clean_other":
        lang = OTHER_LANGS[int(rng.integers(0, 4))]
        return _prose(rng, lang, int(rng.integers(8, 25))), lang
    if cls == "mislabeled":
        true_lang = OTHER_LANGS[int(rng.integers(0, 4))]
        return _prose(rng, true_lang, int(rng.integers(8, 25))), "en"
    if cls == "gibberish":
        return _gibberish(rng, int(rng.integers(40, 120))), "en"
    if cls == "boilerplate":
        return "\n".join([_prose(rng, "en", 1)] * int(rng.integers(15, 40))), "en"
    if cls == "short":
        words = _WORDS["en"][rng.integers(0, len(_WORDS["en"]), int(rng.integers(4, 15)))]
        return " ".join(words), "en"
    if cls == "symbolic":
        base = _prose(rng, "en", 10).split()
        marks = rng.integers(1, 4, len(base))
        return " ".join(f"{w} {'#' * int(m)}" for w, m in zip(base, marks)), "en"
    if cls == "stuffing":
        ws = _STUFF[rng.integers(0, len(_STUFF), int(rng.integers(60, 150)))]
        return " ".join(ws) + ".", "en"
    # pii: keep-class prose with 1-3 scrub targets appended
    text = _prose(rng, "en", int(rng.integers(8, 20)))
    snips = [PII_SNIPPETS[int(j)] for j in rng.integers(0, len(PII_SNIPPETS), int(rng.integers(1, 4)))]
    return text + "\n" + " ".join(snips), "en"


def _classes(rng: np.random.Generator, n: int) -> np.ndarray:
    """Exactly the class shares of :data:`CLASSES` (largest remainder), in
    seeded order, so the work mix does not vary from seed to seed."""
    names = np.array([c for c, _ in CLASSES])
    w = np.array([w for _, w in CLASSES])
    want = w / w.sum() * n
    counts = np.floor(want).astype(int)
    counts[np.argsort(counts - want)[: n - counts.sum()]] += 1
    return rng.permutation(np.repeat(names, counts))


def _urls(rng: np.random.Generator, n: int, tag: str) -> list[str]:
    dom = rng.choice(len(DOMAINS), size=n, p=DOMAIN_WEIGHTS / DOMAIN_WEIGHTS.sum())
    return [f"https://{DOMAINS[d]}/{tag}/{i:07d}" for i, d in enumerate(dom)]


def short_docs(n: int, seed: int) -> pd.DataFrame:
    """``generate_pages``-style docs (mean ~0.8 KB): url, text, lang."""
    rng = np.random.default_rng([seed, 1])
    texts, langs = zip(*(_doc(rng, c) for c in _classes(rng, n)))
    return pd.DataFrame({"url": _urls(rng, n, "s"), "text": texts, "lang": langs})


def long_html_docs(n: int, seed: int) -> pd.DataFrame:
    """~50 KB documents of concatenated short docs, html only: url, html, lang."""
    rng = np.random.default_rng([seed, 2])
    texts, langs = [], []
    for cls in _classes(rng, n):
        parts, size = [], 0
        text, lang = _doc(rng, cls)
        while size < LONG_DOC_BYTES:
            parts.append(text)
            size += len(text) + 1
            text, _ = _doc(rng, cls)
        texts.append("\n".join(parts))
        langs.append(lang)
    return pd.DataFrame(
        {
            "url": _urls(rng, n, "l"),
            "html": [render_html(t) for t in texts],
            "lang": langs,
        }
    )


def _near_copy(rng: np.random.Generator, text: str) -> str:
    toks = text.split(" ")
    n_swap = max(1, len(toks) // 32)
    for i in rng.integers(0, len(toks), n_swap):
        toks[int(i)] = str(_WORDS["en"][int(rng.integers(0, len(_WORDS["en"])))])
    return " ".join(toks)


def curate_docs(n: int, seed: int) -> pd.DataFrame:
    """Short docs where :data:`CURATE_EXACT_SHARE` of rows are exact copies
    and :data:`CURATE_NEAR_SHARE` near copies of earlier rows. Columns:
    url, text, lang, and ``dup_group`` (the source row index for a planted
    copy and for its source, -1 otherwise; never sent to the program)."""
    n_exact = int(n * CURATE_EXACT_SHARE)
    n_near = int(n * CURATE_NEAR_SHARE)
    base = short_docs(n - n_exact - n_near, seed)
    rng = np.random.default_rng([seed, 3])
    src = rng.integers(0, len(base), n_exact + n_near)
    texts = list(base["text"])
    langs = list(base["lang"])
    group = np.full(n, -1, dtype=np.int64)
    for j, s in enumerate(src):
        s = int(s)
        if j < n_exact:
            texts.append(texts[s])
            group[s] = group[len(texts) - 1] = s
        else:
            texts.append(_near_copy(rng, texts[s]))
        langs.append(langs[s])
    return pd.DataFrame(
        {"url": _urls(rng, n, "c"), "text": texts, "lang": langs, "dup_group": group}
    )


def fingerprint(pdf: pd.DataFrame) -> dict:
    """Rows, text bytes and a content hash of every program-visible column."""
    h = hashlib.sha256()
    n_bytes = 0
    for col in sorted(c for c in pdf.columns if c != "dup_group"):
        h.update(col.encode())
        for v in pdf[col]:
            b = v if isinstance(v, bytes) else str(v).encode("utf-8")
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
            if col in ("text", "html"):
                n_bytes += len(b)
    return {"rows": len(pdf), "text_bytes": n_bytes, "sha256": h.hexdigest()[:16]}


def write_parquet(pdf: pd.DataFrame, out_dir: str, n_files: int = N_FILES) -> None:
    """Split ``pdf`` over ``n_files`` parquet files in ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pandas(pdf.drop(columns=["dup_group"], errors="ignore"),
                                 preserve_index=False)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))
