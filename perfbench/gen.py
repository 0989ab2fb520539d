#!/usr/bin/env python3
"""Seeded input generator for the benchmark's two workloads.

    python3 perfbench/gen.py --seed N --out DIR [--workload NAME]

writes DIR/<workload>/ for one workload, or for both when
--workload is left out. The same seed always gives byte-identical
files. Each corpus comes with its ground truth, recorded while the
corpus is written, so the output checks never ask the engine what the
right answer is:

  mr_text/     pg-0.txt .. pg-7.txt   Zipf letter words, some non-ASCII,
                                      separated by spaces, punctuation
                                      and digits
               truth_wc.tsv           word <TAB> occurrences
               truth_ix.tsv           word <TAB> "<n> file,file,..."
  dedup/       docs.tsv               doc_id <TAB> text (single spaces)
               planted.tsv            id_a <TAB> id_b <TAB> exact 3-shingle
                                      Jaccard, for every pair planted in
                                      one cluster or chain with J >= 0.5
               groups.tsv             kind <TAB> comma-joined ids, one
                                      line per planted cluster or chain

A corpus is complete once its DONE marker exists; a half-written one
(an interrupted run) is written again.
"""

import argparse
import itertools
import os
import random
import shutil
from collections import Counter

WORKLOADS = ("mr_text", "dedup")

# mr_text: shaped like the lab's eight pg-*.txt inputs
MR_FILES = 8
MR_WORDS_PER_FILE = 160_000
MR_VOCAB = 40_000
MR_ZIPF_S = 1.05
NON_ASCII = "éèüöäñçøåßłžæœ"
# separators never contain a letter, so every emitted vocabulary word is
# exactly one token of Go's FieldsFunc(!IsLetter) split
SEPARATORS = [" ", " ", " ", " ", " ", " ", ", ", ". ", ".\n", "; ", " -- ",
              " (", ") ", " 1887 ", " 42, ", "!\n", "? ", "\n\n", ": ", " 3"]

# dedup: the wide part is many random documents with few small
# near-duplicate clusters (work for the signature kernels, banding and
# verify); the deep part is long near-duplicate chains (rounds for
# connected components)
WIDE_DOCS = 10_000
WIDE_CLUSTER_SHARE = 0.02
WIDE_TOKENS = (40, 80)
DEEP_CHAINS = 100
DEEP_CHAIN_LEN = 12
DEEP_TOKENS = 30
DEDUP_VOCAB = 8_000


def vocabulary(rng, n, non_ascii_every, capital_every):
    """n distinct words. Length (3 to 10 letters), a non-ASCII letter and
    a capital follow from the word's rank and only the letters are drawn,
    so the frequent words, and with them the corpus size, are the same
    size under every seed."""
    seen, words = set(), []
    letters = "abcdefghijklmnopqrstuvwxyz"
    for rank in range(n):
        while True:
            w = "".join(rng.choice(letters) for _ in range(3 + rank % 8))
            if non_ascii_every and rank % non_ascii_every == 1:
                i = rng.randrange(len(w))
                w = w[:i] + rng.choice(NON_ASCII) + w[i + 1:]
            if capital_every and rank % capital_every == 2:
                w = w[0].upper() + w[1:]
            if w not in seen:
                break
        seen.add(w)
        words.append(w)
    return words


def write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def gen_mr_text(seed, out):
    rng = random.Random(f"mr_text/{seed}")
    vocab = vocabulary(rng, MR_VOCAB, non_ascii_every=16, capital_every=12)
    cum = list(itertools.accumulate(1.0 / r ** MR_ZIPF_S
                                    for r in range(1, MR_VOCAB + 1)))
    ranks = range(MR_VOCAB)
    counts = Counter()
    files_of = {}
    for f in range(MR_FILES):
        name = f"pg-{f}.txt"
        idx = rng.choices(ranks, cum_weights=cum, k=MR_WORDS_PER_FILE)
        seps = rng.choices(SEPARATORS, k=MR_WORDS_PER_FILE)
        with open(os.path.join(out, name), "w", encoding="utf-8", newline="\n") as fh:
            fh.write("".join(vocab[i] + s for i, s in zip(idx, seps)))
        counts.update(idx)
        for i in set(idx):
            files_of.setdefault(i, []).append(name)
    order = sorted(counts, key=lambda i: vocab[i])
    write_lines(os.path.join(out, "truth_wc.tsv"),
                (f"{vocab[i]}\t{counts[i]}" for i in order))
    write_lines(os.path.join(out, "truth_ix.tsv"),
                (f"{vocab[i]}\t{len(files_of[i])} {','.join(sorted(files_of[i]))}"
                 for i in order))


def shingles(tokens):
    """Distinct 3-token shingles, as the engine's whitespace tokenizer and
    gram kernel form them (a document under 3 tokens is one shingle)."""
    if len(tokens) < 3:
        return {" ".join(tokens)}
    return {" ".join(tokens[i:i + 3]) for i in range(len(tokens) - 2)}


def jaccard(a, b):
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def fresh_word(rng, vocab, avoid):
    while True:
        w = rng.choice(vocab)
        if w not in avoid:
            return w


def wide_groups(rng, vocab, docs, groups):
    """Random documents; a small share of them seed clusters of 2-4
    near-duplicates made by 1-6 token substitutions each."""
    end = len(docs) + WIDE_DOCS
    while len(docs) < end:
        base = [rng.choice(vocab) for _ in range(rng.randint(*WIDE_TOKENS))]
        if rng.random() < WIDE_CLUSTER_SHARE / 2.5:
            members = [base]
            for _ in range(rng.randint(1, 3)):
                v = list(base)
                for p in rng.sample(range(len(v)), rng.randint(1, 6)):
                    v[p] = fresh_word(rng, vocab, {v[p]})
                members.append(v)
            members = members[:end - len(docs)]
            groups.append(("cluster", list(range(len(docs), len(docs) + len(members)))))
            docs.extend(members)
        else:
            docs.append(base)


def deep_groups(rng, vocab, docs, groups):
    """Chains: each document substitutes one token of the one before it,
    cycling through interior positions three apart (each in three
    shingles), so a document shares J = 25/31 with its neighbours and
    22/34 < 0.7 with the documents two steps away: every chain is a path."""
    positions = list(range(2, DEEP_TOKENS - 2, 3))
    for _ in range(DEEP_CHAINS):
        cur = [rng.choice(vocab) for _ in range(DEEP_TOKENS)]
        start = len(docs)
        docs.append(cur)
        for step in range(1, DEEP_CHAIN_LEN):
            cur = list(cur)
            p = positions[step % len(positions)]
            cur[p] = fresh_word(rng, vocab, set(cur))
            docs.append(cur)
        groups.append(("chain", list(range(start, len(docs)))))


def gen_dedup(seed, out):
    rng = random.Random(f"dedup/{seed}")
    vocab = vocabulary(rng, DEDUP_VOCAB, non_ascii_every=0, capital_every=0)
    docs, groups = [], []
    wide_groups(rng, vocab, docs, groups)
    deep_groups(rng, vocab, docs, groups)
    # ids in shuffled order, so no group sits in one id range
    ids = list(range(len(docs)))
    rng.shuffle(ids)
    write_lines(os.path.join(out, "docs.tsv"),
                (f"{ids[i]}\t{' '.join(d)}" for i, d in sorted(
                    enumerate(docs), key=lambda e: ids[e[0]])))
    planted, group_lines = [], []
    for kind, members in groups:
        sh = {m: shingles(docs[m]) for m in members}
        for a, b in itertools.combinations(members, 2):
            j = jaccard(sh[a], sh[b])
            if j >= 0.5:
                lo, hi = sorted((ids[a], ids[b]))
                planted.append(f"{lo}\t{hi}\t{j!r}")
        group_lines.append(f"{kind}\t{','.join(str(ids[m]) for m in members)}")
    write_lines(os.path.join(out, "planted.tsv"), planted)
    write_lines(os.path.join(out, "groups.tsv"), group_lines)


def generate(seed, root, workload):
    out = os.path.join(root, workload)
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "mr_text":
        gen_mr_text(seed, out)
    else:
        gen_dedup(seed, out)
    open(os.path.join(out, "DONE"), "w").close()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=WORKLOADS)
    a = ap.parse_args()
    for w in ([a.workload] if a.workload else WORKLOADS):
        print(generate(a.seed, a.out, w))


if __name__ == "__main__":
    main()
