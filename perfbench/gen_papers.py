"""Seeded, arXiv-shaped papers JSONL for the lab2 workloads.

Each line is one paper `{"id", "title", "abstract", "categories"}`, the
shape `Lab2Pipeline.readPapers` reads. The same (workload, seed) always
gives byte-identical output.

Words are synthetic lowercase syllable strings, so tokenization keeps
them whole and none of them is a stop word. Ranks below `head_offset`
of the frequency distribution are never emitted: they stand in for the
very frequent words a full stop-word list would remove.

Usage: python3 gen_papers.py <workload> <seed> <out.jsonl>
"""
import json
import os
import sys

import numpy as np

# Generator parameters per workload, kept in workloads.json next to the
# reason each workload exists.
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json"),
          encoding="utf-8") as _f:
    PARAMS = {name: w["generator"] for name, w in json.load(_f)["workloads"].items()
              if "generator" in w}

_ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p",
           "qu", "r", "s", "t", "v", "w", "x", "z", "br", "cl", "dr",
           "fl", "gr", "pl", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ae", "io", "ou"]
_ARCHIVES = ["cs", "math", "stat", "physics", "q-bio", "eess", "econ",
             "astro-ph", "cond-mat", "hep-th", "nlin", "quant-ph"]


def word(i):
    """Deterministic pronounceable word for vocabulary rank `i` (0-based).

    Every word has at least three syllables, so it is longer than every
    entry of a stop-word list and never collides with one.
    """
    sylls = []
    n = i
    base = len(_ONSETS) * len(_VOWELS)
    while True:
        n, r = divmod(n, base)
        sylls.append(_ONSETS[r // len(_VOWELS)] + _VOWELS[r % len(_VOWELS)])
        if n == 0:
            break
    while len(sylls) < 3:
        sylls.append("ra")
    return "".join(sylls)


def category_codes(pool):
    """`pool` arXiv-style codes such as `cs.LG` or `hep-th.Ab`."""
    codes = []
    i = 0
    while len(codes) < pool:
        arch = _ARCHIVES[i % len(_ARCHIVES)]
        sub = word(i // len(_ARCHIVES))[:2].upper()
        codes.append(f"{arch}.{sub}{i // (len(_ARCHIVES) * 100) or ''}")
        i += 1
    return codes


def _rank_sampler(rng, p):
    """Zipf sampler over vocabulary ranks [head_offset, vocab)."""
    ranks = np.arange(p["head_offset"], p["vocab"])
    w = 1.0 / np.power(ranks + 1.0, p["zipf_s"])
    cdf = np.cumsum(w / w.sum())
    return lambda k: ranks[np.minimum(np.searchsorted(cdf, rng.random(k)), len(ranks) - 1)]


def generate(workload, seed, out_path):
    p = PARAMS[workload]
    rng = np.random.default_rng(seed)
    draw = _rank_sampler(rng, p)
    words = {}

    def w(r):
        s = words.get(r)
        if s is None:
            s = words[r] = word(int(r))
        return s

    codes = category_codes(p["category_pool"])
    # category popularity is skewed like arXiv's: a few big archives
    code_w = 1.0 / np.arange(1, len(codes) + 1) ** 0.8
    code_w /= code_w.sum()
    tmp = out_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for i in range(p["papers"]):
            n_abs = max(8, int(rng.normal(p["abstract_tokens"],
                                          p["abstract_tokens"] * 0.2)))
            abs_ranks = draw(n_abs)
            n_title = max(3, int(rng.normal(p["title_tokens"], 2.0)))
            own = rng.random(n_title) < p["title_from_abstract"]
            title_ranks = np.where(own, rng.choice(abs_ranks, n_title),
                                   draw(n_title))
            # mixed case and trailing blanks, as raw arXiv metadata has;
            # the pipeline lowercases and right-trims the key
            cat = codes[rng.choice(len(codes), p=code_w)] + " " * int(rng.integers(0, 3))
            title = " ".join(w(r) for r in title_ranks)
            rec = {
                "id": f"p{i:07d}",
                "title": title[0].upper() + title[1:],
                "abstract": " ".join(w(r) for r in abs_ranks) + ".",
                "categories": cat,
            }
            f.write(json.dumps(rec, separators=(", ", ": ")) + "\n")
    os.replace(tmp, out_path)


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in PARAMS:
        sys.exit(f"usage: gen_papers.py {{{'|'.join(sorted(PARAMS))}}} <seed> <out.jsonl>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
