"""Seeded input generators for the benchmark.

Everything the program sees is made here from one seed: a Markdown corpus,
a stream of serve requests and the batches of Markdown files appended while
serving.  The same seed gives byte-identical inputs.

Vocabulary.  The sf0.1 test corpus is built from 31 words that all occur
with the same frequency, so every term would behave like a stopword.  The
generator keeps those 31 words as the most frequent ranks and derives a
long tail from them (word + syllable suffix), then draws every token from a
Zipf distribution over the ranks.  Rare ranks are language-specific, in the
sf0.1 language mix, so each language has its own tail.

Provenance.  Two inputs are measured: the 31 base words and the language
mix, both counted from sf0.1.  The query-side ranges (1-6 terms, top_k 1-20
with mode 5, the request modes with about 10% phrase/near) are the ones the
benchmark is specified with; top_k 5 is also `graft serve`'s default
`--top-k`.  Every other number below (the Zipf exponent and rank counts,
the weights inside those ranges, the corpus shape) is an assumption that
no trace or publication in this repository backs; README.md lists each
with the reason for its value.  Replace them when such a source exists.
"""

import json
import os

import numpy as np

# the 31 words of the sf0.1 `documents.text` column, by corpus frequency
BASE_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch", "dup",
]
# sf0.1 `documents.lang` shares
LANGS = [("en", 2059), ("zh", 753), ("es", 744), ("fr", 742), ("de", 702)]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "du",
             "ga", "zo", "fi", "be", "xu", "ha", "qi", "wa", "je", "co"]
# assumed (README.md, "Assumptions"): a Zipf law with exponent near 1,
# and a tail long enough that most terms are rare
VOCAB = 20000          # ranks per language
ZIPF_S = 1.07
SHARED_RANKS = 400     # ranks below this are shared by all languages

# request mix: serve default (ANN as `graft serve` resolves it), forced
# exact, ivf:auto, pq, and about 10% positional (phrase / near); the split
# of the other 90% is assumed
MODES = [("default", 30), ("exact", 20), ("ivf_auto", 20), ("pq", 20),
         ("phrase", 5), ("near", 5)]
# assumed weights: short keyword queries most common
TERMS_PER_QUERY = [(1, 20), (2, 30), (3, 22), (4, 14), (5, 8), (6, 6)]
# top_k 1..20, mode 5 (the serve default); the other weights are assumed
TOP_K = [(k, w) for k, w in zip(range(1, 21),
         [3, 5, 8, 12, 20, 12, 8, 6, 5, 4, 3, 2, 2, 2, 1, 1, 1, 1, 1, 3])]


def _syll(n):
    out = []
    while True:
        out.append(SYLLABLES[n % len(SYLLABLES)])
        n //= len(SYLLABLES)
        if n == 0:
            return "".join(out)


def word(rank, lang_ix):
    """Word at Zipf `rank` for language `lang_ix` (0 = en)."""
    if rank < len(BASE_WORDS):
        return BASE_WORDS[rank]
    r = rank if rank < SHARED_RANKS else rank + lang_ix * VOCAB
    return BASE_WORDS[r % len(BASE_WORDS)] + _syll(r // len(BASE_WORDS))


class Vocab:
    def __init__(self):
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.words = [[word(r, li) for r in range(VOCAB)]
                      for li in range(len(LANGS))]

    def draw(self, rng, lang_ix, n):
        w = self.words[lang_ix]
        ix = np.searchsorted(self.cdf, rng.random(n) * self.cdf[-1], side="right")
        return [w[min(i, VOCAB - 1)] for i in ix]


def _weighted(rng, pairs):
    vals = [v for v, _ in pairs]
    w = np.array([x for _, x in pairs], dtype=np.float64)
    return vals[rng.choice(len(vals), p=w / w.sum())]


def _lang(rng):
    return rng.choice(len(LANGS),
                      p=np.array([c for _, c in LANGS]) / sum(c for _, c in LANGS))


def _sentence(rng, vocab, lang_ix, n):
    return " ".join(vocab.draw(rng, lang_ix, n))


def _markdown_file(rng, vocab, lang_ix, sections, marker=None):
    """One Markdown file: optional front matter, then `sections` sections
    under headers of mixed depth, each 1-3 paragraphs.  About one section
    in twenty is longer than the 512-token chunk budget, so the chunker
    also sub-splits with overlap.  Returns (text, word lists of every
    section)."""
    lines = []
    if rng.random() < 0.2:
        lines += ["---", f"title: {_sentence(rng, vocab, lang_ix, 3)}",
                  f"lang: {LANGS[lang_ix][0]}", "---", ""]
    bodies = []
    depth = 1
    marker_at = int(rng.integers(sections)) if marker else -1
    for s in range(sections):
        depth = max(1, min(4, depth + int(rng.integers(-1, 2))))
        lines += ["#" * depth + " " + _sentence(rng, vocab, lang_ix, 3), ""]
        n_words = int(rng.integers(560, 900)) if rng.random() < 0.05 \
            else int(rng.integers(20, 120))
        words = vocab.draw(rng, lang_ix, n_words)
        if s == marker_at:
            words[int(rng.integers(len(words)))] = marker
        bodies.append(words)
        paras = int(rng.integers(1, 4))
        cuts = sorted(set(int(c) for c in rng.integers(1, len(words), paras - 1))) \
            if paras > 1 else []
        for a, b in zip([0] + cuts, cuts + [len(words)]):
            # lines of ~12 words, like wrapped prose
            chunk = words[a:b]
            for i in range(0, len(chunk), 12):
                lines.append(" ".join(chunk[i:i + 12]))
            lines.append("")
    return "\n".join(lines), bodies


def corpus(seed, out_dir, files, sections=10, prefix="doc", marker=None,
           subdirs=True):
    """Write `files` Markdown files under `out_dir`; returns the stats dict
    and a sample of adjacent word pairs (for phrase / near requests)."""
    rng = np.random.default_rng(seed)
    vocab = Vocab()
    n_bytes = 0
    df = {}
    n_sections = 0
    pairs = []
    for i in range(files):
        lang_ix = _lang(rng)
        text, bodies = _markdown_file(rng, vocab, lang_ix,
                                      int(rng.integers(sections // 2, sections * 3 // 2 + 1)),
                                      marker=marker)
        d = os.path.join(out_dir, f"d{i % 50:02d}") if subdirs else out_dir
        os.makedirs(d, exist_ok=True)
        data = text.encode("utf-8")
        with open(os.path.join(d, f"{prefix}{i:05d}.md"), "wb") as f:
            f.write(data)
        n_bytes += len(data)
        for b in bodies:
            n_sections += 1
            for w in set(b):
                df[w] = df.get(w, 0) + 1
            if len(pairs) < 4000 and len(b) > 2:
                j = int(rng.integers(len(b) - 1))
                pairs.append((b[j], b[j + 1]))
    dfs = sorted(df.values())
    q = np.percentile(dfs, [25, 50, 75]).tolist() if dfs else [0, 0, 0]
    stats = {"files": files, "bytes": n_bytes, "sections": n_sections,
             "vocabulary": len(df),
             "term_df_quartiles": [round(x, 1) for x in q],
             "term_df_max": dfs[-1] if dfs else 0}
    return stats, pairs


def requests(seed, n, pairs):
    """`n` serve requests: mode, query text and top_k.  Terms per query are
    1-6, drawn from the corpus Zipf distribution (so both stopword-like and
    rare terms occur); phrase requests use an adjacent pair of the corpus,
    near requests the `"a b"~4` slop syntax over such a pair."""
    rng = np.random.default_rng(seed + 1)
    vocab = Vocab()
    out = []
    mix = {m: 0 for m, _ in MODES}
    for _ in range(n):
        mode = _weighted(rng, MODES)
        k = _weighted(rng, TOP_K)
        if mode in ("phrase", "near"):
            a, b = pairs[int(rng.integers(len(pairs)))]
            if mode == "near" and a == b:
                mode = "phrase"
            q = f"{a} {b}" if mode == "phrase" else f'"{a} {b}"~4'
        else:
            q = " ".join(vocab.draw(rng, _lang(rng), _weighted(rng, TERMS_PER_QUERY)))
        mix[mode] += 1
        out.append({"mode": mode, "query": q, "top_k": k})
    return out, mix


def append_batches(seed, out_dir, batches, files):
    """`batches` directories of `files` Markdown files each.  Every file of
    batch i carries the batch's unique marker term once, so a search for
    the marker must return the batch's new documents after reload."""
    info = []
    total_bytes = 0
    for b in range(batches):
        d = os.path.join(out_dir, f"batch{b:03d}")
        marker = f"zqmark{seed}x{b}"
        st, _ = corpus(seed * 1000 + 7 + b, d, files, sections=6,
                       prefix=f"b{b:03d}_", marker=marker, subdirs=False)
        total_bytes += st["bytes"]
        info.append({"dir": d, "marker": marker, "files": files,
                     "bytes": st["bytes"]})
    return info, total_bytes


def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
