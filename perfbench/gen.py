"""Seeded input generators for the benchmark workloads.

Everything here runs on the driver (Python, numpy, and DuckDB to pick name
typos by their Jaro-Winkler similarity): a seed fully determines every
generated table, and the program under test only ever receives the
generated rows. Repo-file inputs start from a seeded window of the sf0.1
documents table kept in data/.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import string

import duckdb
import numpy as np
import pandas as pd

_VOWELS = "aeiouy"
_CONSONANTS = "bcdfghjklmnprstvwz"
_CITY_COUNT = 60
_EMAIL_DOMAINS = ("example.com", "mail.test", "post.example", "inbox.test")


def _vocab(rng: np.random.Generator, n: int, syllables: tuple[int, int]
           ) -> list[str]:
    """`n` distinct pronounceable tokens (consonant-vowel syllables)."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(syllables[0], syllables[1] + 1))
        w = "".join(_CONSONANTS[int(rng.integers(len(_CONSONANTS)))]
                    + _VOWELS[int(rng.integers(len(_VOWELS)))]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_choice(rng: np.random.Generator, vocab: list[str], size: int,
                 a: float) -> np.ndarray:
    """Draw `size` tokens with probability ~ 1/rank**a: a few hot values
    (hot blocking keys, small TF weights) and a long tail of rare ones."""
    w = 1.0 / np.arange(1, len(vocab) + 1) ** a
    idx = rng.choice(len(vocab), size=size, p=w / w.sum())
    return np.asarray(vocab, dtype=object)[idx]


def _typo(word: str | None, rng: np.random.Generator) -> str | None:
    if word is None or len(word) < 3:
        return word
    i = int(rng.integers(len(word) - 1))
    kind = int(rng.integers(3))
    if kind == 0:  # transpose
        return word[:i] + word[i + 1] + word[i] + word[i + 2:]
    if kind == 1:  # drop
        return word[:i] + word[i + 1:]
    return word[:i] + string.ascii_lowercase[int(rng.integers(26))] \
        + word[i + 1:]  # substitute


class PersonVocab:
    """Name/city/e-mail vocabularies of the population every person table
    is drawn from. They are the same for every seed, as a population's
    names are; a seed draws different people from them."""

    def __init__(self):
        rng = np.random.default_rng(0)
        self.first = _vocab(rng, 600, (2, 3))
        self.surname = _vocab(rng, 2500, (2, 4))
        self.city = _vocab(rng, _CITY_COUNT, (2, 3))
        self.handle = _vocab(rng, 20000, (3, 4))


@functools.cache
def _population() -> PersonVocab:
    return PersonVocab()


def _entities(rng: np.random.Generator, vocab: PersonVocab, n: int,
              start: int) -> pd.DataFrame:
    first = _zipf_choice(rng, vocab.first, n, 1.1)
    sur = _zipf_choice(rng, vocab.surname, n, 1.0)
    city = _zipf_choice(rng, vocab.city, n, 0.9)
    days = rng.integers(0, 70 * 365, size=n)
    dob = [dt.date(1940, 1, 1) + dt.timedelta(days=int(d)) for d in days]
    dom = rng.integers(len(_EMAIL_DOMAINS), size=n)
    handle = rng.choice(len(vocab.handle), size=n)
    ids = np.arange(start, start + n)
    email = [f"{vocab.handle[h]}{i % 100}@{_EMAIL_DOMAINS[d]}"
             for h, i, d in zip(handle, ids, dom)]
    return pd.DataFrame({"first_name": first, "surname": sur, "dob": dob,
                         "email": email, "city": city, "cluster": ids})


# Edits a duplicate record can carry, with the chance a random edit is each
_EDITS = ("first_name_typo", "surname_typo", "first_name_null", "city_null",
          "email_null", "email_typo", "dob_slip")
_EDIT_P = (0.25, 0.2, 0.1, 0.1, 0.1, 0.1, 0.15)


def _edit(row: dict, kind: str, rng: np.random.Generator) -> dict:
    """A copy of `row` with one edit of kind `kind` (one of _EDITS)."""
    row = dict(row)
    if kind == "dob_slip":
        if row["dob"] is not None:
            shift = int(rng.choice([1, 30, 365]))
            row["dob"] = row["dob"] + dt.timedelta(days=shift)
    elif kind.endswith("_null"):
        row[kind[:-len("_null")]] = None
    else:
        col = kind[:-len("_typo")]
        row[col] = _typo(row[col], rng)
    return row


def _perturb(row: dict, rng: np.random.Generator) -> dict:
    """A duplicate record: 1-2 independent edits (typo, null, dob slip)."""
    for _ in range(1 + int(rng.random() < 0.4)):
        row = _edit(row, _EDITS[int(rng.choice(len(_EDITS), p=_EDIT_P))],
                    rng)
    return row


def person_records(seed: int, n_rows: int) -> pd.DataFrame:
    """Donor-shaped person table of about `n_rows` rows: unique_id,
    first_name, surname, dob (datetime.date), email, city and the
    ground-truth `cluster`. About 30% of entities appear 2-4 times, each
    extra copy carrying typos, nulls or a dob slip."""
    rng = np.random.default_rng([seed, 1])
    vocab = _population()
    n_entities = max(2, int(n_rows / 1.5))
    base = _entities(rng, vocab, n_entities, 0).to_dict("records")
    rows: list[dict] = []
    for rec in base:
        rows.append(rec)
        if rng.random() < 0.3:
            for _ in range(int(rng.integers(1, 4))):
                rows.append(_perturb(rec, rng))
    out = pd.DataFrame(rows[:n_rows])
    out.insert(0, "unique_id", [f"r{i:07d}" for i in range(len(out))])
    return out


def new_person_requests(seed: int, existing: pd.DataFrame, n_requests: int,
                        per_request: int) -> list[pd.DataFrame]:
    """Requests of `per_request` records each for find_matches: alternately
    a perturbed duplicate of a stored record and a novel person drawn from
    the same vocabularies. Ids never collide with the stored table."""
    rng = np.random.default_rng([seed, 2])
    vocab = _population()
    n_total = n_requests * per_request
    novel = _entities(rng, vocab, n_total, 10_000_000).to_dict("records")
    stored = existing.drop(columns=["unique_id"]).to_dict("records")
    rows = []
    for i in range(n_total):
        if i % 2 == 0:
            rows.append(_perturb(stored[int(rng.integers(len(stored)))], rng))
        else:
            rows.append(novel[i])
    df = pd.DataFrame(rows)
    df.insert(0, "unique_id", [f"n{i:07d}" for i in range(n_total)])
    return [df.iloc[i:i + per_request].reset_index(drop=True)
            for i in range(0, n_total, per_request)]


# Jaro-Winkler bands of the person model's name ladders (levels at 0.92,
# 0.88 and 0.7): a name typo in the i-th band makes the scorer evaluate i + 1
# Jaro-Winkler levels (below 0.88 it evaluates all three)
_NAME_JW_BANDS = ((0.92, 1.0), (0.88, 0.92), (0.0, 0.88))


def _one_edit_typos(word: str, rng: np.random.Generator) -> list[str]:
    """Every transposition and drop of one character of `word`, and one
    random substitution at each position."""
    out = set()
    for i in range(len(word)):
        out.add(word[:i] + word[i + 1:])
        out.add(word[:i] + string.ascii_lowercase[int(rng.integers(26))]
                + word[i + 1:])
        if i + 1 < len(word):
            out.add(word[:i] + word[i + 1] + word[i] + word[i + 2:])
    out.discard(word)
    return sorted(out)


def _name_typo_pair(con, recs: list[dict], col: str, band: tuple,
                    rng: np.random.Generator) -> tuple[dict, dict]:
    """A random stored record and a copy whose `col` carries a one-edit typo
    with Jaro-Winkler similarity (DuckDB's) in `band`."""
    lo, hi = band
    while True:
        a = recs[int(rng.integers(len(recs)))]
        word = a[col]
        if word is None or len(word) < 3:
            continue
        typos = _one_edit_typos(word, rng)
        sims = con.execute(
            "SELECT list_transform($t, x -> jaro_winkler_similarity($w, x))",
            {"w": word, "t": typos}).fetchone()[0]
        fits = [t for t, sim in zip(typos, sims) if lo <= sim < hi]
        if fits:
            return a, dict(a, **{col: fits[int(rng.integers(len(fits)))]})


def record_pairs(seed: int, existing: pd.DataFrame, n_pairs: int
                 ) -> list[tuple[dict, dict]]:
    """Single-pair scoring inputs. Three pairs of every four are a stored
    record and a copy carrying one edit, the edits taken from _EDITS in
    turn, and name typos from _NAME_JW_BANDS in turn; the fourth is two
    random stored records. Every seed gets the same number of pairs of each
    kind, so the number of string-kernel calls the pairs make, and with it
    the mean pair latency, does not move with the seed. Records are passed
    as the stored table holds them, dob as datetime.date."""
    rng = np.random.default_rng([seed, 3])
    recs = existing.to_dict("records")
    out = []
    n_edited = 0
    with duckdb.connect() as con:
        for k in range(n_pairs):
            if k % 4 == 3:
                i, j = rng.choice(len(recs), size=2, replace=False)
                out.append((recs[int(i)], recs[int(j)]))
                continue
            kind = _EDITS[n_edited % len(_EDITS)]
            if kind in ("first_name_typo", "surname_typo"):
                band = _NAME_JW_BANDS[n_edited // len(_EDITS)
                                      % len(_NAME_JW_BANDS)]
                a, b = _name_typo_pair(con, recs, kind[:-len("_typo")], band,
                                       rng)
            else:
                a = recs[int(rng.integers(len(recs)))]
                b = _edit(a, kind, rng)
            b["unique_id"] = f"p{k:07d}"
            n_edited += 1
            out.append((a, b))
    return out


# ------------------------------------------------------------- repo files

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents_sf0.1.parquet")


def documents(seed: int, n_docs: int | None) -> pd.DataFrame:
    """`n_docs` consecutive documents (doc_id, text, lang, source) of the
    sf0.1 documents table in data/, starting at a seeded offset; all 5,000
    when `n_docs` is None. Consecutive doc_ids keep the repo-file blocks of
    every window the same shape: no two documents of a window share
    doc_id % 707, so repo blocks never mix documents."""
    docs = pd.read_parquet(DOCUMENTS)
    if n_docs is None:
        return docs
    rng = np.random.default_rng([seed, 4])
    start = int(rng.integers(len(docs) - n_docs + 1))
    return docs.iloc[start:start + n_docs].reset_index(drop=True)
