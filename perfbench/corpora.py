"""Seeded benchmark inputs. Every seed yields the same number of items of
each kind (turns, long conversations, documents per family and per
language), so every seed asks for the same amount of work; the seed only
decides the content."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from graphiti_spark import transcripts as tr

LONG_FRAC = 0.02  # share of conversations that are LONG_MULT times longer
LONG_MULT = 20


def transcripts(n_convs: int, turns: int, seed: int) -> pd.DataFrame:
    """`n_convs` conversations of `turns` turns, exactly LONG_FRAC of them
    LONG_MULT times longer, alias surfaces on odd turns (the generator's)."""
    n_long = round(n_convs * LONG_FRAC)
    short = tr.synthesize_transcripts_pdf(
        n_convs=n_convs - n_long, turns_per_conv=turns, seed=seed, skew_frac=0.0
    )
    long = tr.synthesize_transcripts_pdf(
        n_convs=n_long, turns_per_conv=turns * LONG_MULT, seed=seed + 7919, skew_frac=0.0
    )
    long["conv_id"] = "long-" + long["conv_id"]
    return pd.concat([short, long], ignore_index=True)


def later_turns(base: pd.DataFrame, n_convs: int, turns: int, seed: int) -> pd.DataFrame:
    """`transcripts(n_convs, turns, seed)` continuing the conversations of
    `base` (built with the same `n_convs`, so the conversation ids match):
    every turn comes after the conversation's last turn in `base`.
    Two-token person surfaces use alternate surnames the base never
    mentions ("Alice Reyes" for "Alice Smith"), so they can only reach
    the base graph's nodes through cross-batch resolution."""
    fresh = transcripts(n_convs, turns, seed)
    last = base.groupby("conv_id").agg(turn=("turn_idx", "max"), ts=("ts", "max"))
    last = last.reindex(fresh["conv_id"])
    if last["turn"].isna().any():
        raise ValueError("base does not hold the batch's conversations")
    first_ts = fresh.groupby("conv_id")["ts"].transform("min")
    fresh["turn_idx"] = (fresh["turn_idx"].to_numpy() + last["turn"].to_numpy() + 1).astype("int32")
    fresh["ts"] = last["ts"].to_numpy() + (fresh["ts"] - first_ts).to_numpy() + pd.Timedelta(minutes=1)
    for full, alt in zip(tr.PEOPLE_FULL, tr.PEOPLE_ALT):
        fresh["text"] = fresh["text"].str.replace(full, alt, regex=False)
    return fresh


# --- documents ------------------------------------------------------------------

_STOP = {
    "en": "the and of to a in is it you that".split(),
    "de": "der die das und ist ich nicht ein mit zu".split(),
    "fr": "le la les et est je ne un une que".split(),
    "es": "el la los y es yo no un una que".split(),
    "zh": "de shi bu le zai you he ren zhe wo".split(),
}
# skewed language mix (documents per 100); temperature mixing re-weights it
LANG_MIX = {"en": 64, "de": 12, "fr": 10, "es": 8, "zh": 6}


def _content_words(lang: str, n: int = 4000) -> np.ndarray:
    """A fixed vocabulary of letter-only words per language, large enough
    that two unrelated documents almost never share a token set."""
    rng = np.random.default_rng(sum(map(ord, lang)))
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(["".join(rng.choice(letters, size=int(rng.integers(3, 9)))) for _ in range(n)])


_VOCAB = {lang: _content_words(lang) for lang in LANG_MIX}
# Zipf-like word frequencies over the content vocabulary
_CDF = np.cumsum(1.0 / np.arange(1, 4001))
_CDF /= _CDF[-1]


def _body(rng: np.random.Generator, lang: str) -> str:
    """3-6 sentences of 6-13 words, about a third of them stopwords; the
    English stopwords carry the quality score's stopword signal."""
    lengths = rng.integers(6, 14, size=int(rng.integers(3, 7)))
    n = int(lengths.sum())
    words = _VOCAB[lang][np.searchsorted(_CDF, rng.random(n))]
    stops = _STOP[lang] + _STOP["en"][:3]
    stop = rng.random(n) < 0.33
    words[stop] = [stops[i] for i in rng.integers(0, len(stops), size=int(stop.sum()))]
    ends = np.cumsum(lengths)
    return " ".join(" ".join(s) + "." for s in np.split(words, ends[:-1]))


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars) with fixed shares:

    * 30% in near-duplicate families of 5 (a base text and four variants
      with the same token set: re-cased, re-spaced, or with words moved
      within the text), the rest unique texts;
    * 10% low-quality (short digit/symbol strings without a sentence end);
    * 2% that copy a 12-word span out of a benchmark document (doc_id
      divisible by 50), so decontamination has hits beyond the benchmark;
    * the LANG_MIX language shares.
    """
    rng = np.random.default_rng(seed)
    langs = np.repeat(list(LANG_MIX), [n_docs * v // 100 for v in LANG_MIX.values()])
    langs = np.concatenate([langs, np.full(n_docs - len(langs), "en")])
    rng.shuffle(langs)
    texts: list[str] = []
    n_family_docs = n_docs * 30 // 100 // 5 * 5
    n_low = n_docs * 10 // 100
    n_copy = n_docs * 2 // 100
    for _ in range(n_family_docs // 5):
        base = _body(rng, "en")
        words = base.split(" ")
        texts.append(base)
        texts.append(base.upper())
        texts.append("  ".join(words))
        texts.append(" ".join(words[1:] + words[:1]))
        texts.append(" ".join(words[::-1]))
    for _ in range(n_low):
        texts.append(" ".join(str(x) for x in rng.integers(0, 10**6, size=int(rng.integers(4, 9)))) + " ##")
    n_unique = n_docs - len(texts) - n_copy
    texts.extend(_body(rng, str(lang)) for lang in langs[:n_unique])
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    # the copies come last so the benchmark documents they quote are fixed
    bench_ids = np.arange(0, len(texts), 50)
    for i in range(n_copy):
        src = texts[int(bench_ids[i % len(bench_ids)])].split(" ")
        start = int(rng.integers(0, max(len(src) - 12, 1)))
        texts.append(_body(rng, "en") + " " + " ".join(src[start : start + 12]))
    doc_ids = np.arange(n_docs, dtype="int64")
    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in doc_ids],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def write_parts(pdf: pd.DataFrame, path: str, n_files: int = 8) -> None:
    """Write `pdf` as a parquet directory of `n_files` files, so a scan
    splits into several tasks as a real corpus of many files does."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        pdf.iloc[part].to_parquet(f"{path}/part-{i:05d}.parquet", index=False)
