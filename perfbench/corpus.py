"""Seeded corpus generator for the benchmark workloads.

The generator is a pure function of its seed and size arguments: the
same seed writes byte-identical parquet. The program under test only
ever sees the written files. ``generate`` runs it in a child process,
so the measured process never holds the corpus.

- ``zipf_documents``: the paper's traffic shape. A ~200k-type
  vocabulary drawn with a Zipf exponent of ~1.07, the reference
  stopwords at the top ranks, and ~20% of tokens dressed so that
  ``clean_token`` must take its full (regex) path: capitalised words,
  edge punctuation and ``_NOUN``-style POS suffixes. About 1% of tokens
  are pure punctuation, which clean to the empty string and are
  dropped. Optionally plants near-duplicate documents (a copy of
  another document with exactly one token replaced).
- ``write_corpus``: writes ``documents`` plus empty parquet files with
  the schemas of the other nine star-schema tables, which the SQL
  surface registers as views even when a query reads only
  ``documents``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ngrams_collocations_hadoop_spark.constants import STOPWORDS

LANGS = ("en", "es", "zh", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20

VOCAB = 200_000         # word types to draw from
ZIPF_EXPONENT = 1.07
SLOW_SHARE = 0.20       # tokens decorated onto clean_token's full path
JUNK_SHARE = 0.01       # pure-punctuation tokens

# Core stopwords (stopwords of every language) at the very top ranks,
# then the one-per-language extras.
_CORE = tuple(w for w in STOPWORDS["en"]
              if all(w in STOPWORDS[lang] for lang in LANGS))
_EXTRA = tuple(dict.fromkeys(w for lang in LANGS for w in STOPWORDS[lang]
                             if w not in _CORE))
STOP_RANKS = _CORE + _EXTRA

_CONS = "bcdfghklmnprstvz"
_VOWS = "aeiou"
_SYLL = [c + v for c in _CONS for v in _VOWS]   # 80 syllables

_POS = ("_NOUN", "_VERB", "_ADJ", "_ADV")
_JUNK = ("--", "...", "*", "''")

def pseudo_word(i: int) -> str:
    """The i-th non-stopword type: two or more consonant-vowel
    syllables, so it is all-[a-z] and never collides with a stopword
    (stopwords are not even-length CV strings of length >= 4)."""
    n = i + len(_SYLL)
    out = []
    while n:
        n, d = divmod(n, len(_SYLL))
        out.append(_SYLL[d])
    return "".join(reversed(out))


def vocabulary(size: int) -> np.ndarray:
    """Rank-ordered word types: stopwords first, then pseudo-words."""
    words = list(STOP_RANKS) + [pseudo_word(i)
                                for i in range(size - len(STOP_RANKS))]
    return np.array(words, dtype=object)


@dataclass
class CorpusStats:
    """Measured properties of a generated corpus (recorded in the
    benchmark output so a run states what it actually measured)."""
    docs: int
    tokens: int
    vocab_types: int          # distinct base word types in the text
    stopword_share: float     # tokens whose cleaned form is a stopword
    slow_path_share: float    # tokens not matching ^[a-z0-9]+$
    planted_pairs: list = field(default_factory=list)   # (lo, hi) ids

    def summary(self) -> dict:
        d = asdict(self)
        d["planted_pairs"] = len(self.planted_pairs)
        return d


def _zipf_cdf() -> np.ndarray:
    w = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_EXPONENT
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def zipf_documents(seed: int, n_docs: int, *, min_len: int = 10,
                   max_len: int = 100, dup_share: float = 0.0
                   ) -> tuple[pa.Table, CorpusStats]:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) with
    Zipfian token ranks; see the module docstring."""
    rng = np.random.default_rng(seed)
    words = vocabulary(VOCAB)
    lens = rng.integers(min_len, max_len + 1, size=n_docs)
    lang_idx = rng.choice(len(LANGS), size=n_docs, p=LANG_WEIGHTS)
    n_dup = int(n_docs * dup_share)
    picked = rng.permutation(n_docs)[:2 * n_dup]
    copies, sources = picked[:n_dup], picked[n_dup:]
    # a planted copy takes its source's length and language
    lens[copies] = lens[sources]
    lang_idx[copies] = lang_idx[sources]
    total = int(lens.sum())
    starts = np.cumsum(lens) - lens
    ranks = np.searchsorted(_zipf_cdf(), rng.random(total))
    ranks = np.minimum(ranks, VOCAB - 1)

    # decorations: 0 = plain, 1 = capitalised, 2 = edge punctuation,
    # 3 = POS suffix, 4 = pure punctuation (cleans to '')
    u = rng.random(total)
    deco = np.zeros(total, dtype=np.int8)
    slow = u < SLOW_SHARE
    deco[slow] = rng.integers(1, 4, size=int(slow.sum()))
    deco[(u >= SLOW_SHARE) & (u < SLOW_SHARE + JUNK_SHARE)] = 4
    pick = rng.integers(0, 1 << 30, size=total)   # decoration variant

    planted = []
    for c, s in zip(copies.tolist(), sources.tolist()):
        # the copy repeats its source token for token, decorations
        # included, except one plain position holding a type absent
        # from the source
        src = slice(starts[s], starts[s] + lens[s])
        dst = slice(starts[c], starts[c] + lens[c])
        ranks[dst] = ranks[src]
        deco[dst] = deco[src]
        pick[dst] = pick[src]
        present = set(ranks[src].tolist())
        fresh = int(rng.integers(len(STOP_RANKS), VOCAB))
        while fresh in present:
            fresh = int(rng.integers(len(STOP_RANKS), VOCAB))
        at = int(rng.integers(lens[c]))
        ranks[starts[c] + at] = fresh
        deco[starts[c] + at] = 0
        deco[starts[s] + at] = 0
        planted.append((min(c, s), max(c, s)))

    toks = words[ranks]
    cap = deco == 1
    toks[cap] = [t.capitalize() for t in toks[cap]]
    pun = deco == 2
    toks[pun] = [("(" + t + ")", t + ",", '"' + t, t + ".")[p % 4]
                 for t, p in zip(toks[pun], pick[pun])]
    pos = deco == 3
    toks[pos] = [t + _POS[p % 4] for t, p in zip(toks[pos], pick[pos])]
    junk = deco == 4
    toks[junk] = [_JUNK[p % 4] for p in pick[junk]]

    ends = starts + lens
    texts = [" ".join(toks[s:e]) for s, e in zip(starts.tolist(), ends.tolist())]
    langs = np.array(LANGS, dtype=object)[lang_idx]

    doc_lang = np.repeat(lang_idx, lens)
    stop = np.zeros(total, dtype=bool)
    for i, w in enumerate(STOP_RANKS):
        for li, lang in enumerate(LANGS):
            if w in STOPWORDS[lang]:
                stop |= (ranks == i) & (doc_lang == li)
    kept = deco != 4
    stats = CorpusStats(
        docs=n_docs, tokens=total,
        vocab_types=int(np.unique(ranks[kept]).size),
        stopword_share=float((stop & kept).sum() / total),
        slow_path_share=float((deco != 0).sum() / total),
        planted_pairs=sorted(planted))
    return _documents_table(texts, langs), stats


def _documents_table(texts: list[str], langs: np.ndarray) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs.tolist(), type=pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)],
                           type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


STUB_SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()),
                 ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}


def write_corpus(out_dir: str, documents: pa.Table) -> None:
    """Write ``documents.parquet`` plus empty stubs of the other tables
    into ``out_dir`` (one parquet file each, the fixture layout)."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    for name, cols in STUB_SCHEMAS.items():
        pq.write_table(pa.schema(cols).empty_table(),
                       os.path.join(out_dir, f"{name}.parquet"))


def generate(seed: int, out_dir: str, **kwargs) -> CorpusStats:
    """Write the ``zipf_documents`` corpus to ``out_dir`` from a child
    process, so its memory never counts in the caller's peak resident
    set; returns the corpus' measured properties."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-m", "perfbench.corpus", str(seed),
                    out_dir, json.dumps(kwargs)], cwd=root, check=True)
    with open(os.path.join(out_dir, "stats.json")) as f:
        d = json.load(f)
    d["planted_pairs"] = [tuple(p) for p in d["planted_pairs"]]
    return CorpusStats(**d)


if __name__ == "__main__":
    p = argparse.ArgumentParser(description="write a benchmark corpus")
    p.add_argument("seed", type=int)
    p.add_argument("out_dir")
    p.add_argument("kwargs", type=json.loads, help="zipf_documents arguments")
    a = p.parse_args()
    table, st = zipf_documents(a.seed, **a.kwargs)
    write_corpus(a.out_dir, table)
    with open(os.path.join(a.out_dir, "stats.json"), "w") as f:
        json.dump(asdict(st), f)
