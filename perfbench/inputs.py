"""Seeded input generators: a Markdown corpus, query streams, and the
`documents`/`embeddings` tables the registered vector queries read.

Everything is a pure function of the seed (and a size), so the same seed
gives byte-identical inputs. The vocabulary itself is fixed: it does not
depend on the seed, so every seed draws from the same language and the
workloads keep the same shape across seeds.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

SECTIONS_PER_FILE = 50
# Latin syllables never contain "q", so a token with a "q" in it can match
# no indexed term: that is how no-match queries are built.
_ONSETS = ("b c d f g h j k l m n p r s t v w z ch sh th tr st pl br gr "
           "kr dr fl").split()
_VOWELS = "a e i o u ai ea io ou".split()
_CODAS = ["", "", "", "n", "r", "s", "t", "l", "m", "nd", "st", "rk"]
_KANA = [chr(c) for c in range(0x3041, 0x3094)]
_KANJI = list("情報検索文書索引計算機械学習言語処理分散並列実行結果評価速度"
              "記憶装置通信網関係数値統計確率推定問題解決設計実装試験運用"
              "日本東京大学研究開発技術資料読書会議報告")


def _vocabulary(n: int = 6000) -> list[str]:
    rng = np.random.default_rng(20240601)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(1, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(k)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _jp_vocabulary(n: int = 400) -> list[str]:
    rng = np.random.default_rng(20240602)
    pool = _KANJI + _KANA
    return ["".join(pool[i] for i in rng.integers(len(pool),
                                                  size=rng.integers(2, 5)))
            for _ in range(n)]


VOCAB = _vocabulary()
JP_VOCAB = _jp_vocabulary()


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


_WORD_P = _zipf_weights(len(VOCAB), 1.05)


class _Writer:
    """Draws sentences for one file: global Zipf words mixed with a
    per-file topic, so BM25 has documents that differ."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.topic = rng.choice(len(VOCAB), size=60, replace=False)

    def words(self, n: int) -> list[str]:
        rng = self.rng
        idx = rng.choice(len(VOCAB), size=n, p=_WORD_P)
        topical = rng.random(n) < 0.3
        idx[topical] = self.topic[rng.integers(len(self.topic),
                                               size=int(topical.sum()))]
        return [VOCAB[i] for i in idx]

    def sentence(self) -> str:
        ws = self.words(int(self.rng.integers(6, 16)))
        ws[0] = ws[0].capitalize()
        return " ".join(ws) + "."

    def jp_sentence(self) -> str:
        rng = self.rng
        parts = [JP_VOCAB[i] for i in rng.integers(len(JP_VOCAB),
                                                   size=rng.integers(4, 9))]
        return "".join(parts) + "。"

    def section_body(self) -> list[str]:
        rng = self.rng
        roll = rng.random()
        if roll < 0.1:
            return [self.jp_sentence() + self.jp_sentence()]
        lines = [" ".join(self.sentence()
                          for _ in range(rng.integers(2, 4)))]
        if roll < 0.2:
            lines += ["", "```python",
                      f"def {self.words(1)[0]}(x):",
                      f"    return x + {int(rng.integers(100))}", "```"]
        elif roll < 0.3:
            lines += [""] + [f"- {' '.join(self.words(3))}"
                             for _ in range(rng.integers(2, 5))]
        return lines


def _markdown_file(rng: np.random.Generator, n_sections: int) -> str:
    w = _Writer(rng)
    lines: list[str] = []
    if rng.random() < 0.1:
        lines += ["---", f"title: {' '.join(w.words(3))}",
                  f"tags: [{', '.join(w.words(2))}]", "---", ""]
    for s in range(n_sections):
        level = 1 if s == 0 else int(rng.integers(2, 4))
        lines += ["#" * level + " " + " ".join(w.words(
            int(rng.integers(2, 5)))).title(), ""]
        lines += w.section_body() + [""]
    text = "\n".join(lines)
    if rng.random() < 0.05:
        text = text.replace("\n", "\r\n")
    return text


def write_corpus(out_dir: str, seed: int, sections: int,
                 fixtures_dir: str | None = None) -> dict[str, int]:
    """Write a Markdown corpus of about `sections` sections under out_dir
    (one file per SECTIONS_PER_FILE sections), plus the files of
    fixtures_dir verbatim when given. Returns its size."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    n_files = max(1, sections // SECTIONS_PER_FILE)
    n_bytes = 0
    for i in range(n_files):
        sub = os.path.join(out_dir, f"part{i % 8}")
        os.makedirs(sub, exist_ok=True)
        data = _markdown_file(rng, SECTIONS_PER_FILE).encode()
        with open(os.path.join(sub, f"doc{i:04d}.md"), "wb") as f:
            f.write(data)
        n_bytes += len(data)
    n_fixture_files = 0
    if fixtures_dir:
        dst = os.path.join(out_dir, "fixtures")
        shutil.copytree(fixtures_dir, dst)
        for root, _, files in os.walk(dst):
            for name in files:
                if name.endswith(".md"):
                    n_fixture_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, name))
    return {"files": n_files + n_fixture_files,
            "sections": n_files * SECTIONS_PER_FILE, "bytes": n_bytes}


def _query(rng: np.random.Generator, rank: int) -> str:
    """The query at popularity `rank`. Its shape (term count, no-match,
    Japanese) is fixed by the rank and only its words by the seed, so the
    traffic mix is the same for every seed: ranks 9, 19, ... match no
    indexed term (10%), ranks 6, 19, 32, ... are Japanese."""
    n = 1 + rank % 4
    if rank % 10 == 9:
        return " ".join(
            "q" + _VOWELS[rng.integers(len(_VOWELS))]
            + _ONSETS[rng.integers(len(_ONSETS))] + "q"
            for _ in range(n))
    if rank % 13 == 6:
        return "".join(JP_VOCAB[i] for i in rng.integers(len(JP_VOCAB),
                                                          size=n))
    # skip the ~30 most common words: they behave like stopwords
    idx = rng.choice(np.arange(30, 3000), size=n, replace=False)
    return " ".join(VOCAB[i] for i in idx)


def query_pool(seed: int, size: int) -> list[str]:
    """`size` distinct queries of 1-4 terms in popularity order; one in
    ten contains no indexed term."""
    rng = np.random.default_rng([seed, 1])
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < size:
        q = _query(rng, len(out))
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def zipf_stream(seed: int, pool: list[str], n: int, s: float = 1.1
                ) -> list[str]:
    """n requests whose popularity over `pool` is Zipf with exponent s."""
    rng = np.random.default_rng([seed, 2])
    return [pool[i] for i in rng.choice(len(pool), size=n,
                                        p=_zipf_weights(len(pool), s))]


def query_batches(seed: int, n_batches: int, size: int) -> list[list[str]]:
    """n_batches batches of `size` queries, no query repeated anywhere;
    one in ten of each batch contains no indexed term."""
    pool = query_pool(seed, n_batches * size)
    return [pool[i * size:(i + 1) * size] for i in range(n_batches)]


# the language of the `documents` table the registered queries were
# written against (their BM25 query strings use these words)
TABLE_WORDS = ("a batch big column customer data fast filter group agg hash "
               "join key line merge order part query row scan slow small sort "
               "spark stream table the value vector window").split()


def write_vector_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                        dim: int = 64) -> None:
    """`documents.parquet` and `embeddings.parquet` with the column layout
    the registered document and vector queries read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = np.random.default_rng([seed, 3])
    texts = [" ".join(TABLE_WORDS[i] for i in rng.integers(
        len(TABLE_WORDS), size=rng.integers(3, 90))) for _ in range(n_docs)]
    langs = np.array(["en", "zh", "es", "fr", "de"])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, size=n_docs,
                                 p=[.4, .15, .15, .15, .15])].tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    v = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
