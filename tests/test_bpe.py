"""BPE vocabulary induction vs a pure-Python reference implementation."""

import collections

from vstream_spark.operators.bpe import train_bpe


def _ref_bpe(words: dict[str, int], num_merges: int):
    """Reference single-node BPE (Sennrich): greedy non-overlapping merge."""
    syms = {w: list(w) + ["</w>"] for w in words}
    merges = []
    for _ in range(num_merges):
        counts = collections.Counter()
        for w, n in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += n
        if not counts:
            break
        # deterministic: count desc, then lexicographic pair asc
        top = max(counts.values())
        cand = sorted(p for p, c in counts.items() if c == top)
        a, b = cand[0]
        merges.append((a, b, top))
        for w in words:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def test_train_bpe_matches_reference(spark):
    corpus = [
        (0, "low low low lower lower newest newest newest newest widest widest"),
        (1, "low newest widest newest lowest"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    words = collections.Counter(
        w for _, t in corpus for w in t.split()
    )
    want = _ref_bpe(dict(words), 6)
    got = train_bpe(docs, num_merges=6)
    assert got == want
    # the learned merges are the expected frequent units of this corpus
    assert got[0][:2] in {("e", "s"), ("s", "t"), ("w", "e"), ("l", "o"), ("o", "w")}


def test_train_bpe_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, "aa ab ba bb aa ab") for i in range(4)], "doc_id long, text string"
    )
    m1 = train_bpe(docs, num_merges=3)
    m2 = train_bpe(docs.repartition(7), num_merges=3)
    assert m1 == m2 and len(m1) == 3
