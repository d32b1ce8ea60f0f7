"""Seeded inputs: the op order of every pass and the word-count corpus.

The seed is the only source of randomness, so one seed always gives the
same op orders and byte-identical corpus files.
"""
import collections
import random

# The reference job's delimiter set is [ ,."']; words are lowercase ASCII.
DELIMITERS = [" ", " ", " ", " ", ", ", ". ", ' "', '" ', "' ", " '"]
VOCABULARY = 20000
ZIPF_S = 1.1


def op_orders(ops, seed, count=64):
    """`count` seeded permutations of `ops`, one per pass."""
    rng = random.Random(f"order:{seed}")
    return [rng.sample(list(ops), len(ops)) for _ in range(count)]


def corpus(seed, shards, tokens_per_shard, tokens_per_line=12):
    """Zipf-skewed, newline-delimited text.

    Returns (shard_texts, golden) where golden maps each word to its count.
    """
    rng = random.Random(f"corpus:{seed}")
    letters = "abcdefghijklmnopqrstuvwxyz"
    # word length is fixed by Zipf rank, so every seed's corpus has nearly
    # the same byte size; the seed picks the letters and the token order
    vocab = []
    seen = set()
    for rank in range(VOCABULARY):
        while True:
            w = "".join(rng.choice(letters) for _ in range(3 + rank * 5 % 8))
            if w not in seen:
                break
        seen.add(w)
        vocab.append(w)
    weights = [1.0 / (rank ** ZIPF_S) for rank in range(1, VOCABULARY + 1)]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    golden = collections.Counter()
    texts = []
    for _ in range(shards):
        words = rng.choices(vocab, cum_weights=cum, k=tokens_per_shard)
        seps = rng.choices(DELIMITERS, k=tokens_per_shard)
        golden.update(words)
        lines = []
        for i in range(0, tokens_per_shard, tokens_per_line):
            lines.append("".join(w + d for w, d in zip(words[i:i + tokens_per_line],
                                                       seps[i:i + tokens_per_line])))
        texts.append("\n".join(lines) + "\n")
    return texts, dict(golden)
