"""Seeded generator for the ETL workload's scraper-JSON corpus.

Writes JSON-array files in the four scraper variants (ScienceDirect and
IEEE, each raw and publisher-enriched), one file per (website, topic,
variant) as the reference's landing directory is laid out, and returns
the counts the pipeline must produce on them. The expected counts are
computed here from the generated records by re-stating the pipeline's
rules (doi dedup, the three cleaning filters, the star-schema keys);
nothing is read back from the engine.

At scale 1 the corpus has the reference's measured shape (BASELINE.md):
8,339 raw records -> 6,299 after doi dedup -> 1,485 publisher-sentinel
drops -> 3,795 clean rows. Other scales multiply every count.

    python3 perfbench/gen_corpus.py <out-dir> [--scale 1] [--seed 7]
"""
import argparse
import json
import os
import random
import re

TOPICS = ["Cryptography", "AI", "IoT", "Big Data", "Blockchain", "DevOps"]
SITES = {"SD": "Science Direct", "IEEE": "IEEE Xplore"}
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
# country spellings, including the aliases the cleaning stage folds
COUNTRIES = ["United States", "USA", "United Kingdom", "U.K.", "China",
             "Germany", "France", "India", "Japan", "South Korea",
             "Republic of Korea", "Vietnam", "Viet Nam", "Brazil", "Italy",
             "Spain", "Canada", "Australia", "Unknown", "Egypt"]
COUNTRY_ALIASES = {
    "USA": "United States", "U.S.A.": "United States",
    "United States of America": "United States",
    "UK": "United Kingdom", "U.K.": "United Kingdom",
    "PRC": "China", "P.R. China": "China",
    "Republic of Korea": "South Korea", "Korea": "South Korea",
    "Viet Nam": "Vietnam", "Russian Federation": "Russia",
    "Deutschland": "Germany", "España": "Spain"}
EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
FIRST = ["Ana", "Bo", "Carlos", "Dana", "Eitan", "Fatima", "Gwen", "Hiro",
         "Ines", "Jamal", "Kai", "Lena", "Mateo", "Nadia", "Omar", "Priya",
         "Quinn", "Rosa", "Sven", "Tariq", "Uma", "Viktor", "Wen", "Yara",
         "Zoe", "Björn", "BjÃ¶rn", "Seán", "Ngozi", "Aleksandr"]
LAST = ["Smith", "Chen", "Garcia", "Müller", "O'Brien", "Nguyen", "Kim",
        "Patel", "Rossi", "Silva", "Kowalski", "Schuller", "Haddad", "Ito",
        "Novak", "Okafor", "Larsen", "Dubois", "Moreau", "Fischer",
        "D'Angelo", 'Lee "JJ"', "Kaya", "Ivanova", "Tanaka", "Ahmed"]
WORDS = ("data model learning network secure ledger edge stream cloud "
         "deployment pipeline privacy consensus sensor graph neural "
         "federated scalable latency throughput attack detection smart "
         "contract container orchestration benchmark â¢ protocol").split()
KEYWORDS = ["machine learning", "deep learning", "blockchain", "IoT",
            "security", "privacy", "edge computing", "big data", "DevOps",
            "cryptography", "smart contracts", "cloud", "CI/CD", "Spark",
            "federated learning", "anomaly detection", "5G", "consensus"]


def _date_fields(rng):
    y, m, d = rng.randint(2015, 2024), rng.randint(1, 12), rng.randint(1, 28)
    return {"Date": f"{d} {MONTHS[m - 1]} {y}", "Month": MONTHS[m - 1],
            "Day": d, "Year": y}


def _journal(rng, k):
    issn = f"{10000000 + k * 7919 % 89999999:08d}"
    if k % 97 == 0:  # multi-ISSN journals
        issn = f"{issn}, {20000000 + k:08d}"
    name = f"Journal of {rng.choice(WORDS).title()} {'Systems' if k % 2 else 'Studies'} {k}"
    if k % 53 == 0:
        name = f"Engineers' {name}"
    return {"ISSN": issn, "name": name, "Quartile": f"Q{1 + k % 4}"}


def _article(rng, i, topic, site, journals, people, univs):
    n_auth = rng.randint(1, 8)
    affs = []
    for _ in range(n_auth):
        name = rng.choice(people)
        u = rng.choice(univs)
        country = rng.choice(COUNTRIES)
        if rng.random() < 0.02:  # scraper put an email where the country goes
            country = f"{name.split()[0].lower()}@uni{rng.randint(1, 9)}.edu"
        affs.append({"author": name, "university": u, "country": country,
                     "location": f"{u}, {country}"})
    kws = rng.sample(KEYWORDS, rng.randint(1, 5))
    kws += [f"kw{rng.randint(0, 6 * len(people))}" for _ in range(rng.randint(1, 6))]
    if rng.random() < 0.1:
        kws.append(kws[0])  # duplicate keyword within the article
    if rng.random() < 0.03:
        kws.append("")
    rec = {
        "title": " ".join(rng.choice(WORDS) for _ in range(rng.randint(4, 12))).title(),
        "authors": [a["author"] for a in affs],
        "authors_with_affiliations": affs,
        "universities": sorted({a["university"] for a in affs}),
        "countries": sorted({a["country"] for a in affs}),
        "abstract": " ".join(rng.choice(WORDS) for _ in range(rng.randint(40, 120)))
        + ("\nSecond paragraph â\x80\x99s text." if rng.random() < 0.2 else ""),
        "doi": f"https://doi.org/10.{1016 if site == 'SD' else 1109}/j.{i:08d}",
        "citations": rng.randint(0, 300),
        "type": "RESEARCH-ARTICLE",
        "keywords": kws,
        "topic": topic,
        "website": SITES[site],
    }
    rec.update(_date_fields(rng))
    return rec, rng.choice(journals)


def _variant(rec, journal, site, enriched, publisher=None):
    """The record as one of the four scraper file variants."""
    r = dict(rec)
    if enriched:
        r["publisher"] = publisher if publisher is not None else dict(journal)
    else:
        r["journal_name"] = journal["name"]
        if site == "IEEE":
            r["ISSN"] = journal["ISSN"].split(", ")[0]
    if site == "IEEE":
        r["locations"] = [a["location"] for a in rec["authors_with_affiliations"]]
    return r


def generate(out, scale=1.0, seed=7):
    """Write the corpus under `out`; returns the expected counts."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    n_unique = round(6299 * scale)
    n_dups = round(8339 * scale) - n_unique
    n_pub = round(1485 * scale)
    n_clean = round(3795 * scale)
    n_bad = n_unique - n_pub - n_clean
    n_date = n_bad * 3 // 5
    n_empty = n_bad - n_date
    fates = (["pub"] * n_pub + ["date"] * n_date + ["empty"] * n_empty
             + ["clean"] * n_clean)
    rng.shuffle(fates)
    n_people = max(50, round(4000 * scale))
    people = [f"{rng.choice(FIRST)} {rng.choice(LAST)} {k}" for k in range(n_people)]
    univs = [f"University {k} of {rng.choice(WORDS).title()}"
             for k in range(max(20, round(800 * scale)))]
    journals = [_journal(rng, k) for k in range(max(20, round(900 * scale)))]
    files = {}  # (site, topic, enriched) -> records
    survivors = []
    for i, fate in enumerate(fates):
        site = rng.choice(list(SITES))
        topic = rng.choice(TOPICS)
        rec, journal = _article(rng, i, topic, site, journals, people, univs)
        if fate == "date":
            rec.update({"Date": "Date not found", "Day": "Day not found",
                        "Month": "Month not found", "Year": "Year not found"})
        elif fate == "empty":
            defect = i % 3
            if defect == 0:
                rec["citations"] = None
            elif defect == 1:
                rec["authors"] = []
            else:
                rec["authors_with_affiliations"] = []
        if fate == "pub":
            kind = i % 3
            if kind == 0:  # un-enriched raw record: no quartile
                main = _variant(rec, journal, site, enriched=False)
            elif kind == 1:
                main = _variant(rec, journal, site, True,
                                {"name": "", "ISSN": "N/A", "Quartile": ""})
            else:
                main = _variant(rec, journal, site, True,
                                {"name": journal["name"], "ISSN": None, "Quartile": ""})
        else:
            main = _variant(rec, journal, site, enriched=True)
            survivors.append(main)
        enriched = "publisher" in main
        files.setdefault((site, topic, enriched), []).append(main)
    # duplicates: the same article again, either as its un-enriched raw
    # record (the enriched one wins the doi dedup) or as an exact re-scrape
    all_main = [r for recs in files.values() for r in recs]
    for k in range(n_dups):
        base = rng.choice(all_main)
        site = "IEEE" if base["website"] == SITES["IEEE"] else "SD"
        if "publisher" in base and k % 2 == 0:
            p = base["publisher"]
            journal = {"name": p["name"] or "Unnamed", "ISSN": p["ISSN"] or "N/A"}
            core = {key: v for key, v in base.items()
                    if key not in ("publisher", "locations")}
            dup = _variant(core, journal, site, enriched=False)
        else:
            dup = dict(base)
        files.setdefault((site, base["topic"], "publisher" in dup), []).append(dup)
    for (site, topic, enriched), recs in sorted(files.items()):
        rng.shuffle(recs)
        name = f"{site}_{topic.replace(' ', '')}{'_upd' if enriched else ''}.json"
        with open(os.path.join(out, name), "w", encoding="utf-8") as f:
            json.dump(recs, f, ensure_ascii=False, indent=1)
    return expected(survivors, n_unique, n_dups, n_pub, n_date, n_empty)


def _clean_str(s):
    """The cleaning stage's whitelist over top-level strings."""
    s = re.sub(r"[^A-Za-zÀ-ÿ0-9\s'-]", "", s)
    return s.replace("\n", "")


def expected(survivors, n_unique, n_dups, n_pub, n_date, n_empty):
    """Sink row counts for the rows that survive every filter."""
    clean = [r for r in survivors
             if not r["Date"].startswith("Date not")
             and r["citations"] is not None
             and r["authors"] and r["authors_with_affiliations"]]
    authors, author_pairs, kw, kw_pairs = set(), set(), set(), set()
    for r in clean:
        doi = _clean_str(r["doi"])
        for a in r["authors_with_affiliations"]:
            country = COUNTRY_ALIASES.get(a["country"], a["country"])
            if EMAIL.search(country):
                continue
            key = (a["author"], country, a["university"])
            authors.add(key)
            author_pairs.add((doi,) + key)
        for k in r["keywords"]:
            if k != "":
                kw.add(k)
                kw_pairs.add((doi, k))
    n = len(clean)
    tables = {
        "articles": n,
        "publishers": len({r["publisher"]["ISSN"] for r in clean}),
        "keywords": len(kw),
        "topics": len({r["topic"] for r in clean}),
        "dates": len({_clean_str(r["Date"]) for r in clean}),
        "authors": len(authors),
        "author_article_mapping": len(author_pairs),
        "keywords_articles_mapping": len(kw_pairs),
    }
    return {"raw": n_unique + n_dups, "merged": n_unique,
            "dropped": {"publisher": n_pub, "date_sentinel": n_date,
                        "emptiness": n_empty},
            "clean": n, "tables": tables}


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.scale, a.seed), indent=1))
