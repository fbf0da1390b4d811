import csv
import io
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_fixture  # noqa: E402
import gen_tweets  # noqa: E402


class TweetGeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.text = gen_tweets.render(7)
        cls.rows = list(csv.reader(io.StringIO(cls.text)))

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a.csv"), os.path.join(d, "b.csv")
            gen_tweets.write(a, 7)
            gen_tweets.write(b, 7)
            with open(a, "rb") as fa, open(b, "rb") as fb:
                self.assertEqual(fa.read(), fb.read())
        self.assertNotEqual(gen_tweets.render(8), self.text)

    def test_kaggle_shape(self):
        header, body = self.rows[0], self.rows[1:]
        self.assertEqual(header, ["id", "keyword", "location", "text", "target"])
        self.assertEqual(len(body), 7613)
        self.assertTrue(all(len(r) == 5 for r in body))
        ids = [int(r[0]) for r in body]
        self.assertEqual(ids, sorted(set(ids)))
        self.assertGreater(sum(1 for r in body if r[1] == ""), 1000)
        pos = sum(1 for r in body if r[4] == "1") / len(body)
        self.assertAlmostEqual(pos, 0.43, delta=0.02)

    def test_text_features(self):
        texts = [r[3] for r in self.rows[1:]]
        self.assertTrue(any("\n" in t for t in texts))
        self.assertTrue(any('"' in t for t in texts))
        self.assertIn('""', self.text)  # RFC-4180 escaped quote
        self.assertTrue(any("http://t.co/" in t for t in texts))
        self.assertTrue(any(re.search(r"@[a-z]+\d+", t) for t in texts))

    def test_vocabulary_is_letters_only_and_large(self):
        words = set()
        for r in self.rows[1:]:
            cleaned = re.sub(r"(?:@|https?://)\S+", "", r[3].lower())
            words.update(w for w in re.split(r"[^a-z]+", cleaned) if w)
        self.assertGreater(len(words), 5000)
        self.assertTrue(all(w.isalpha() for w in gen_tweets._vocabulary(
            __import__("random").Random(1), 500)))

    def test_row_count_argument(self):
        self.assertEqual(len(list(gen_tweets.tweets(3, 100))), 100)


class FixtureGeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a = gen_fixture.tables(5, 0.001, 200, 100)
        b = gen_fixture.tables(5, 0.001, 200, 100)
        self.assertEqual(sorted(a), sorted(gen_fixture.TABLE_NAMES))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        c = gen_fixture.tables(6, 0.001, 200, 100)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_documents_hold_duplicates(self):
        docs = gen_fixture.tables(5, 0.001, 2000, 10)["documents"].to_pydict()
        self.assertLess(len(set(docs["text"])), len(docs["text"]))
        self.assertTrue(any(t.endswith(" dup") for t in docs["text"]))
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])


if __name__ == "__main__":
    unittest.main()
