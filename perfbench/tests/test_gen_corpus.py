"""Tests for the ETL corpus generator's expected counts.

The expected counts are re-derived here from the written files alone,
by a second route: parse every JSON-array file, dedup on doi preferring
the record with a quartile, then apply the cleaning filters in order.
"""
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen_corpus  # noqa: E402


def publisher(r):
    """The merged publisher struct: enriched records carry one; raw
    records fold journal_name (+ IEEE's ISSN) in with an empty quartile."""
    if "publisher" in r:
        return r["publisher"]
    return {"ISSN": r.get("ISSN"), "Quartile": "", "name": r["journal_name"]}


def rederive(d):
    records = []
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), encoding="utf-8") as f:
            records += json.load(f)
    by_doi = {}
    for r in records:
        by_doi.setdefault(r["doi"], []).append(r)
    merged = []
    for group in by_doi.values():
        enriched = [r for r in group if publisher(r)["Quartile"] not in ("", None)]
        merged.append((enriched or group)[0])
    pub = [r for r in merged
           if publisher(r)["ISSN"] not in (None, "N/A")
           and publisher(r)["name"] not in (None, "")
           and publisher(r)["Quartile"] not in (None, "")]
    sentinel = ("Date not", "Year not", "Day not", "Month not")
    date = [r for r in pub
            if not any(str(r[k]).startswith(s)
                       for k, s in zip(("Date", "Year", "Day", "Month"), sentinel))]
    clean = [r for r in date
             if r["citations"] is not None and r["authors"]
             and r["authors_with_affiliations"]]
    return records, merged, pub, date, clean


class CorpusTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dir = cls.tmp.name
        cls.exp = gen_corpus.generate(cls.dir, scale=1.0, seed=3)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_reference_shares_at_scale_one(self):
        e = self.exp
        self.assertEqual(e["raw"], 8339)
        self.assertEqual(e["merged"], 6299)
        self.assertEqual(e["dropped"]["publisher"], 1485)
        self.assertEqual(e["clean"], 3795)

    def test_counts_rederived_from_files(self):
        records, merged, pub, date, clean = rederive(self.dir)
        e = self.exp
        self.assertEqual(len(records), e["raw"])
        self.assertEqual(len(merged), e["merged"])
        self.assertEqual(len(merged) - len(pub), e["dropped"]["publisher"])
        self.assertEqual(len(pub) - len(date), e["dropped"]["date_sentinel"])
        self.assertEqual(len(date) - len(clean), e["dropped"]["emptiness"])
        self.assertEqual(len(clean), e["clean"])
        t = e["tables"]
        self.assertEqual(t["articles"], len(clean))
        self.assertEqual(t["topics"], len({r["topic"] for r in clean}))
        self.assertEqual(t["publishers"], len({r["publisher"]["ISSN"] for r in clean}))
        kws = {k for r in clean for k in r["keywords"] if k}
        self.assertEqual(t["keywords"], len(kws))
        self.assertEqual(t["keywords_articles_mapping"],
                         len({(r["doi"], k) for r in clean for k in r["keywords"] if k}))

    def test_four_variants_over_many_files(self):
        names = os.listdir(self.dir)
        self.assertGreaterEqual(len(names), 20)
        shapes = set()
        for name in names:
            with open(os.path.join(self.dir, name), encoding="utf-8") as f:
                for r in json.load(f):
                    shapes.add(("publisher" in r, "locations" in r,
                                "journal_name" in r, "ISSN" in r))
        self.assertTrue({(False, False, True, False), (True, False, False, False),
                         (False, True, True, True), (True, True, False, False)} <= shapes)

    def test_edge_rows_present(self):
        records, *_ = rederive(self.dir)
        blob = json.dumps(records, ensure_ascii=False)
        for needle in ('"Date not found"', '"ISSN": "N/A"', '"ISSN": null',
                       "@uni", "Ã¶", 'Lee \\"JJ\\"', "O'Brien", ", 2000"):
            self.assertIn(needle, blob)
        self.assertTrue(any(len(r["keywords"]) != len(set(r["keywords"])) for r in records))
        seen = {}
        for r in records:
            for a in r["authors_with_affiliations"]:
                seen.setdefault(a["author"], set()).add(a["university"])
        self.assertTrue(any(len(u) > 1 for u in seen.values()))

    def test_same_seed_same_corpus(self):
        with tempfile.TemporaryDirectory() as other:
            self.assertEqual(gen_corpus.generate(other, 1.0, 3), self.exp)
            for name in os.listdir(self.dir):
                with open(os.path.join(self.dir, name), "rb") as a, \
                        open(os.path.join(other, name), "rb") as b:
                    self.assertEqual(a.read(), b.read())


class StageCheckTest(unittest.TestCase):
    """run.check_etl_stages compares a traced run's stage counts with
    the generator's expected counts."""
    exp = {"raw": 10, "merged": 8, "clean": 4,
           "dropped": {"publisher": 2, "date_sentinel": 1, "emptiness": 1}}
    stage = {"ingest.rows_out": 8, "ingest.dup_dropped": 2, "clean.rows_out": 4,
             "clean.dropped.publisher": 2, "clean.dropped.date_sentinel": 1,
             "clean.dropped.emptiness": 1}

    def test_matching_counts_pass(self):
        import run
        self.assertIsNone(run.check_etl_stages([self.stage], self.exp))

    def test_a_wrong_rule_count_is_named(self):
        import run
        bad = dict(self.stage, **{"clean.dropped.emptiness": 0})
        cause = run.check_etl_stages([self.stage, bad], self.exp)
        self.assertIn("clean.dropped.emptiness=0 want 1", cause)


if __name__ == "__main__":
    unittest.main()
