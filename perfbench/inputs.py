"""Seeded workload inputs, cached by (workload, seed, size).

Everything the program reads is generated here from the seed: transcript
tables through ``logpipe_spark.fixtures.gen_transcripts``, a document
corpus with planted duplicates for the corpus funnel, and the staged files
plus due-time schedule of the tailed directory. Building an input is not
part of any timed metric; a second run with the same seed reuses the cache.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd


def cached(root: str, key: str, build) -> str:
    """Directory ``root/key`` built once by ``build(tmp_dir)``; a half-built
    directory from a killed run is never reused (the rename is the commit)."""
    path = os.path.join(root, key)
    if not os.path.exists(os.path.join(path, "_DONE")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.replace(tmp, path)
    return path


def transcripts(n_turns: int, seed: int) -> pd.DataFrame:
    from logpipe_spark.fixtures import gen_transcripts

    return gen_transcripts(n_turns, seed=seed)


def write_table(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    """A splittable multi-file parquet table (one Spark scan task per file)."""
    os.makedirs(path, exist_ok=True)
    for i, idx in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        pdf.iloc[idx].to_parquet(os.path.join(path, f"part-{i:05d}.parquet"), index=False)


def stream_files(n_files: int, turns_per_file: int, seed: int) -> list[pd.DataFrame]:
    """The tailed directory's files. Each file's conversations carry the
    file's index as a ``f<i>/`` prefix, so every output row names the file
    it came from and exactly-once delivery is checkable per file."""
    pdf = transcripts(n_files * turns_per_file, seed)
    out = []
    for i in range(n_files):
        part = pdf.iloc[i * turns_per_file:(i + 1) * turns_per_file].copy()
        part["conv_id"] = f"f{i:04d}/" + part["conv_id"]
        out.append(part.reset_index(drop=True))
    return out


# --- corpus documents ------------------------------------------------------

_BOILERPLATE = [
    "subscribe to our newsletter for weekly updates",
    "all rights reserved by the original publisher",
    "click here to accept the cookie policy and continue",
]
_LANGS = np.array(["en", "fr", "es", "de", "zh"])
_LANG_W = np.array([0.40, 0.16, 0.16, 0.14, 0.14])


def _vocab(rng: np.random.Generator, n: int = 400) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=n)
    return np.array(["".join(rng.choice(letters, size=k)) for k in lens])


def documents(n_docs: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``(doc_id, text, lang, source, n_chars)`` documents shaped like the
    corpus table, plus an eval set, with something planted for every
    funnel stage: short docs (quality gate), exact copies (exact dedup),
    one-word edits (near-dup), eval-set texts (decontaminate), shared
    boilerplate lines and boilerplate-only docs (line dedup), and a skewed
    language mix (temperature mix). Returns (docs, eval_docs).

    The layout (which document is a copy of which, every length, where an
    edit or a boilerplate line goes, languages, sources, which texts the
    eval set repeats) comes from a fixed generator; the words come from
    ``seed``. So the near-duplicate graph, and with it the number of
    connected-components rounds and Spark jobs, is the same on every seed,
    and so are the row counts of the stages up to line dedup."""
    shape = np.random.default_rng(0)
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)

    def line(n_words: int) -> str:
        return " ".join(rng.choice(vocab, size=n_words))

    texts: list[str] = []
    originals: list[int] = []  # copies are made of these only: clusters stay one hop deep
    for i in range(n_docs):
        u = shape.random()
        if i == n_docs - 1:  # at least one boilerplate-only doc
            texts.append("\n".join(_BOILERPLATE))
        elif u < 0.05:
            texts.append(line(int(shape.integers(3, 8))))
        elif u < 0.13 and len(originals) > 10:
            texts.append(texts[originals[int(shape.integers(0, len(originals)))]])
        elif u < 0.21 and len(originals) > 10:
            words = texts[originals[int(shape.integers(0, len(originals)))]].split(" ")
            words[int(shape.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        elif u < 0.23:
            texts.append("\n".join(_BOILERPLATE))
        else:
            lines = [line(int(shape.integers(10, 24))) for _ in range(int(shape.integers(2, 6)))]
            if shape.random() < 0.4:
                lines.insert(int(shape.integers(0, len(lines) + 1)), _BOILERPLATE[int(shape.integers(0, 3))])
            texts.append("\n".join(lines))
            originals.append(i)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": shape.choice(_LANGS, size=n_docs, p=_LANG_W),
            "source": [f"src{k}" for k in shape.integers(0, 5, size=n_docs)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    # the eval set repeats a few long corpus texts, so decontamination fires
    long_ids = np.flatnonzero(np.array([len(t.split()) > 30 for t in texts]))
    picked = shape.choice(long_ids, size=max(1, n_docs // 40), replace=False)
    eval_docs = docs.loc[picked, ["doc_id", "text"]].reset_index(drop=True)
    eval_docs["doc_id"] = eval_docs["doc_id"] + 10_000_000
    return docs, eval_docs


def write_documents(path: str, n_docs: int, seed: int, n_files: int) -> None:
    docs, eval_docs = documents(n_docs, seed)
    write_table(docs, os.path.join(path, "docs"), n_files)
    write_table(eval_docs, os.path.join(path, "eval"), 1)
