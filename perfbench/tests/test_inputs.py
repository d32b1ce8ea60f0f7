import re
import unittest
from collections import Counter

import inputs


class SeededInputs(unittest.TestCase):
    OPS = ["q01", "q02", "q03", "q04", "q05"]

    def test_same_seed_same_op_order(self):
        self.assertEqual(inputs.op_orders(self.OPS, 7), inputs.op_orders(self.OPS, 7))

    def test_other_seed_other_op_order(self):
        self.assertNotEqual(inputs.op_orders(self.OPS, 7), inputs.op_orders(self.OPS, 8))

    def test_every_order_is_a_permutation(self):
        for order in inputs.op_orders(self.OPS, 3):
            self.assertEqual(sorted(order), sorted(self.OPS))

    def test_same_seed_identical_corpus_bytes(self):
        a, ga = inputs.corpus(11, 2, 3000)
        b, gb = inputs.corpus(11, 2, 3000)
        self.assertEqual([t.encode() for t in a], [t.encode() for t in b])
        self.assertEqual(ga, gb)

    def test_other_seed_other_corpus(self):
        self.assertNotEqual(inputs.corpus(11, 1, 3000)[0], inputs.corpus(12, 1, 3000)[0])

    def test_golden_matches_reference_tokenizer(self):
        texts, golden = inputs.corpus(5, 2, 5000)
        counts = Counter()
        for text in texts:
            for line in text.splitlines():
                counts.update(w for w in re.split(r"[ ,.\"']+", line) if w)
        self.assertEqual(dict(counts), golden)

    def test_corpus_is_skewed(self):
        _, golden = inputs.corpus(5, 1, 20000)
        top = max(golden.values())
        self.assertGreater(top, 20 * (20000 / len(golden)))


if __name__ == "__main__":
    unittest.main()
