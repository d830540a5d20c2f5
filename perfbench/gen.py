"""Seeded input generators for the archive-lifecycle benchmark.

Every generator takes the seed as an argument and writes only under the
directory it is given; the same seed and sizes give byte-identical
files. Each returns a record of what it planted (expected triple,
document and event counts, the records themselves, duplicate pairs) so
the output checks have a ground truth that does not come from the
program under test.

Run outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
from dataclasses import dataclass
from statistics import NormalDist

METADATA_COLS = [
    "Plaats", "Doos-nummer", "Inventarisnummer", "Volgnummer", "Serie",
    "Datering", "Volgordenummer", "Titel", "Beschrijving voorkant",
    "Bijzonderheden", "Plaats 1", "Plaats 2", "Plaats 3", "Schaal",
    "Coördinaat - Linksonder", "Coördinaat Rechtsboven", "Breedte (cm)",
    "Hoogte (cm)", "Soort", "Betrokkene type", "Auteursrecht",
    "Fotograaf naam", "Gemeentenaam", "Gemeente identificatie", "Kleurtype",
]
DROID_COLS = [
    "ID", "PARENT_ID", "URI", "FILE_PATH", "NAME", "METHOD", "STATUS",
    "SIZE", "TYPE", "EXT", "LAST_MODIFIED", "EXTENSION_MISMATCH",
    "MD5_HASH", "FORMAT_COUNT", "PUID", "MIME_TYPE", "FORMAT_NAME",
    "FORMAT_VERSION",
]

# Vocabulary pools: (vocabulary, terms). The last term of each pool is
# left out of the vocabulary table, so some rows carry unresolvable
# terms and lose the corresponding triple.
PLACES = ["Houten", "Tull en 't Waal", "'t Goy", "Schalkwijk", "Wijk bij Duurstede",
          "Bunnik", "Odijk", "Werkhoven", "Cothen", "Langbroek", "Doorn",
          "Onbekend oord"]
POOLS = {
    "soort": ["Luchtfoto", "Kaart", "Prent", "Ongeclassificeerd"],
    "kleurtype": ["Kleurenfoto", "Zwart-wit", "Sepia"],
    "auteursrecht": ["Geen toestemming nodig", "Toestemming vereist", "Onbekend"],
    "actor": ["Delta-Phot", "KLM Aerocarto", "Aerofoto Brussel", "Anoniem"],
    "locatie": PLACES,
}
WORDS = ("luchtfoto gemeente dorp kern lint polder wetering dijk kasteel kerk "
         "boerderij molen haven brug weg spoor akker boomgaard uiterwaard "
         "noord zuid oost west centrum buitengebied").split()


def _resolvable(vocabulary: str) -> list[str]:
    return POOLS[vocabulary][:-1]


@dataclass
class Accession:
    """One generated accession: `;`-CSV metadata, DROID CSV, a
    vocabulary table and one payload file per record."""

    metadata_csv: str
    droid_csv: str
    vocab_csv: str
    payload_dir: str
    records: list[dict]
    expected_triples: int

    @property
    def n_records(self) -> int:
        return len(self.records)

    @property
    def n_series(self) -> int:
        return len({r["year"] for r in self.records})

    @property
    def expected_docs(self) -> int:
        # one record document (carrying its dekking node), one bestand
        # document (carrying its checksum node) per row, one per serie,
        # one for the archive
        return 2 * self.n_records + self.n_series + 1

    @property
    def expected_events(self) -> int:
        return 2 + 2 * self.expected_docs


# Explicit column types for the CSV readers (FIXTURES.md §1-§2).
METADATA_DDL = ", ".join(
    f"`{c}` {'int' if c in ('Inventarisnummer', 'Volgnummer', 'Breedte (cm)', 'Hoogte (cm)') else 'string'}"
    for c in METADATA_COLS)
DROID_DDL = ("ID int, PARENT_ID int, URI string, FILE_PATH string, NAME string, "
             "METHOD string, STATUS string, SIZE bigint, TYPE string, EXT string, "
             "LAST_MODIFIED timestamp, EXTENSION_MISMATCH boolean, MD5_HASH string, "
             "FORMAT_COUNT int, PUID string, MIME_TYPE string, FORMAT_NAME string, "
             "FORMAT_VERSION string")


def _csv_field(v, sep: str) -> str:
    if v is None:
        return ""
    s = str(v)
    if sep in s or '"' in s:
        return '"' + s.replace('"', '""') + '"'
    return s


def _write_csv(path: str, cols: list[str], rows: list[list], sep: str) -> None:
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(sep.join(_csv_field(c, sep) for c in cols) + "\n")
        for r in rows:
            fh.write(sep.join(_csv_field(v, sep) for v in r) + "\n")


def _title(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _vocab_uri(vocabulary: str, term: str | None) -> str | None:
    if term is None or term not in _resolvable(vocabulary):
        return None
    return f"https://data.razu.nl/id/{vocabulary}/" + hashlib.md5(
        f"{vocabulary}:{term}".encode()).hexdigest()


def _records(rng: random.Random, n_records: int) -> list[dict]:
    years = sorted(rng.sample(range(1950, 2000), max(2, n_records // 40)))
    # Payload sizes: the quantiles of a lognormal (median ~10 KB, capped
    # at 64 KB) in seeded order, so every seed ships the same byte total.
    sizes = [64 + int(min(65536, 1024 * math.exp(2.3 + 0.8 * NormalDist().inv_cdf(
        (i + 0.5) / n_records)))) for i in range(n_records)]
    rng.shuffle(sizes)
    out = []
    for inv in range(1, n_records + 1):
        year = years[(inv - 1) * len(years) // n_records]
        box = 1 + rng.randrange(12)
        # the three date shapes: ISO date, bare year, Dutch d-m-yyyy
        shape = inv % 3 if inv <= 3 else rng.randrange(3)
        month, day = 1 + rng.randrange(12), 1 + rng.randrange(28)
        datering = (f"{year}-{month:02d}-{day:02d}", f"{year}",
                    f"{day}-{month}-{year}")[shape]
        places = rng.sample(PLACES, 3)
        if rng.random() < 0.6:
            places = places[:1]
        elif rng.random() < 0.7:
            places = places[:2]
        x, y = 130_000_000 + rng.randrange(20_000_000), 440_000_000 + rng.randrange(20_000_000)
        w, h = 100_000 + rng.randrange(900_000), 100_000 + rng.randrange(900_000)
        out.append(dict(
            inv=inv, year=year, box=box, datering=datering,
            places=places, soort=rng.choice(POOLS["soort"]),
            kleur=rng.choice(POOLS["kleurtype"]), recht=rng.choice(POOLS["auteursrecht"]),
            actor=rng.choice(POOLS["actor"]), corners=(x, y, x + w, y + h),
            plaats=f"W13.{box}.{rng.randrange(1, 9)}",
            title=_title(rng, 3 + rng.randrange(4)),
            description=_title(rng, 5 + rng.randrange(20)),
            remark=_title(rng, 4) if rng.random() < 0.3 else None,
            name=f"{year}_{box:02d}_{inv:03d}.jpg",
            body=rng.randbytes(sizes[inv - 1]),
            matched=rng.random() >= 0.05,  # some files DROID did not report
        ))
    return out


def _expected_triples(records: list[dict]) -> int:
    """Triples the csv2rdf plan derives from these records: per record
    9 unconditional record triples plus one per resolvable optional
    link, 3 on its dekking node, 7 on its bestand (+1 format when DROID
    matched the file), 2 on its checksum node (+2 date and value when
    matched) and its serie membership link; 4 per serie; 5 for the
    archive."""
    total = 5 + 4 * len({r["year"] for r in records})
    for r in records:
        optional = sum(_vocab_uri("locatie", p) is not None for p in r["places"])
        optional += sum(_vocab_uri(v, r[k]) is not None for v, k in
                        (("soort", "soort"), ("actor", "actor"), ("auteursrecht", "recht")))
        total += 9 + optional + 3 + 7 + 2 + 1 + (3 if r["matched"] else 0)
    return total


def make_accession(root: str, seed: int, n_records: int) -> Accession:
    """Generate a razu-shaped accession of `n_records` aerial-photo
    records under `root` (created). Inventory numbers stay below 1000
    because the program's filename rule pads them to three digits."""
    if not 3 <= n_records <= 999:
        raise ValueError("n_records must be in [3, 999]")
    rng = random.Random(f"accession:{seed}:{n_records}")
    records = _records(rng, n_records)
    payload_dir = os.path.join(root, "bestanden")
    os.makedirs(payload_dir, exist_ok=True)
    meta_rows = []
    # DROID: a Folder row for the payload directory, then File rows.
    droid_rows = [[1, None, "file:/E:/bestanden/", "E:\\bestanden", "bestanden",
                   None, "Done", None, "Folder", None, "2024-07-17T12:00:00",
                   "false", None, None, None, None, None, None]]
    for r in records:
        p = r["places"] + [None] * (3 - len(r["places"]))
        x1, y1, x2, y2 = r["corners"]
        meta_rows.append([
            r["plaats"], f"{r['year']}-{r['box']}", r["inv"], r["inv"] % 50 + 1,
            str(r["year"]), r["datering"], f"A{r['inv']}", r["title"], r["description"],
            r["remark"], p[0], p[1], p[2], "1:1000", f"X {x1} Y {y1}", f"X {x2} Y {y2}",
            60, 60, r["soort"], "Maker", r["recht"], r["actor"], "Houten",
            "NL-K30279619", r["kleur"],
        ])
        with open(os.path.join(payload_dir, r["name"]), "wb") as fh:
            fh.write(r["body"])
        if r["matched"]:
            droid_rows.append([
                r["inv"] + 1, 1, f"file:/E:/bestanden/{r['name']}",
                f"E:\\bestanden\\{r['name']}", r["name"], "Signature", "Done",
                len(r["body"]), "File", "jpg", "2024-07-17T12:13:54", "false",
                hashlib.md5(r["body"]).hexdigest(), 1, "fmt/43", "image/jpeg",
                "JPEG File Interchange Format", "1.01",
            ])
    acc = Accession(
        metadata_csv=os.path.join(root, "metadata.csv"),
        droid_csv=os.path.join(root, "droid.csv"),
        vocab_csv=os.path.join(root, "vocab.csv"),
        payload_dir=payload_dir,
        records=records,
        expected_triples=_expected_triples(records),
    )
    _write_csv(acc.metadata_csv, METADATA_COLS, meta_rows, ";")
    _write_csv(acc.droid_csv, DROID_COLS, droid_rows, ",")
    vocab_rows = [[voc, term, _vocab_uri(voc, term)]
                  for voc in sorted(POOLS) for term in _resolvable(voc)]
    _write_csv(acc.vocab_csv, ["vocabulary", "term", "uri"], vocab_rows, ",")
    return acc


def mutate_files(tree: str, rel_paths: list[str], seed: int, step: int,
                 share: float = 0.02) -> set[str]:
    """Rewrite a seeded `share` of the files under `tree` in place and
    return the relative paths changed. Payload files get fresh random
    bytes of the same size; JSON-LD documents get a revised `ldto:naam`
    literal, so they stay valid and keep their triple count."""
    rng = random.Random(f"mutate:{seed}:{step}")
    k = max(1, round(share * len(rel_paths)))
    chosen = rng.sample(sorted(rel_paths), k)
    for rel in chosen:
        path = os.path.join(tree, rel)
        if rel.endswith(".meta.json"):
            with open(path, encoding="utf-8") as fh:
                doc = json.loads(fh.read())
            for node in doc["@graph"]:
                if "ldto:naam" in node:
                    node["ldto:naam"][0]["@value"] += f" (herzien {step})"
                    break
            else:
                raise ValueError(f"{rel} has no ldto:naam to revise")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(json.dumps(doc, ensure_ascii=False) + "\n")
        else:
            size = os.path.getsize(path)
            with open(path, "wb") as fh:
                fh.write(rng.randbytes(size))
    return set(chosen)


# ---------------------------------------------------------------------------
# Document corpus for the curation workload.
# ---------------------------------------------------------------------------

# Marker words the program's language heuristic keys on
# (operators/text.LANG_MARKERS), plus filler vocabulary per language.
LANG_MARKERS = {"en": ("the", "a"), "es": ("data", "value"), "de": ("query", "join")}
FILLER = {
    "en": "river bridge archive photo record village church field road map".split(),
    "es": "rio puente archivo foto registro pueblo iglesia campo camino mapa".split(),
    "de": "fluss brucke archiv bild akte dorf kirche feld strasse karte".split(),
}


@dataclass
class Corpus:
    path: str  # parquet file with (doc_id, text, lang)
    n_docs: int
    texts: dict[int, str]
    exact_groups: list[list[int]]  # doc ids with identical text
    near_pairs: list[tuple[int, int]]  # (original, edited copy)


def _doc_text(rng: random.Random, lang: str, n_words: int) -> str:
    words = []
    markers = LANG_MARKERS[lang]
    for i in range(n_words):
        if i % 7 == 3:
            words.append(markers[i % 2])
        else:
            words.append(f"{rng.choice(FILLER[lang])}{rng.randrange(400)}")
    return " ".join(words)


def make_corpus(path: str, seed: int, n_docs: int) -> Corpus:
    """Write a parquet corpus of `n_docs` documents with lognormal
    lengths, mixed languages (a few mislabelled, which the quality and
    language filter drops), PII e-mail addresses, planted exact
    duplicates and planted near-duplicates (one word in fifty
    replaced, which keeps word-3-gram Jaccard well above 0.8)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus:{seed}:{n_docs}")
    n_base = int(n_docs * 0.8)
    # Fixed shares and lognormal length quantiles in seeded order, so
    # every seed has the same amount of text: 3% of documents are too
    # short for the quality bar, 10% carry an e-mail address, 5% have a
    # label that disagrees with their text.
    order = list(range(n_base))
    rng.shuffle(order)
    short = set(order[: n_base * 3 // 100])
    emails = set(order[n_base * 3 // 100: n_base * 13 // 100])
    mislabelled = set(order[n_base * 13 // 100: n_base * 18 // 100])
    lengths = [int(min(1500, 40 + math.exp(4.6 + 0.7 * NormalDist().inv_cdf((i + 0.5) / n_base))))
               for i in range(n_base)]
    rng.shuffle(lengths)
    texts: dict[int, str] = {}
    langs: dict[int, str] = {}
    for d in range(n_base):
        lang = rng.choice(("en", "es", "de"))
        text = _doc_text(rng, lang, 10 + rng.randrange(10) if d in short else lengths[d])
        if d in emails:
            text += f" contact user{rng.randrange(10**6)}@example.org"
        texts[d] = text
        langs[d] = rng.choice([x for x in LANG_MARKERS if x != lang]) if d in mislabelled else lang
    # planted copies come from originals spread evenly over the length order
    originals = sorted((d for d in range(n_base)
                        if len(texts[d].split(" ")) >= 40 and _matches_label(texts[d], langs[d])),
                       key=lambda d: (len(texts[d]), d))
    next_id = n_base
    exact_groups, near_pairs = [], []
    n_exact = (n_docs - n_base) // 2
    for src in _spread(rng, originals, n_exact):
        texts[next_id], langs[next_id] = texts[src], langs[src]
        exact_groups.append([src, next_id])
        next_id += 1
    for src in _spread(rng, originals, n_docs - next_id):
        words = texts[src].split(" ")
        for i in range(0, len(words), 50):
            # one edit per 50 words, never on a language marker
            slots = [j for j in range(i, min(i + 50, len(words))) if j % 7 != 3]
            if slots:
                words[rng.choice(slots)] = f"edit{rng.randrange(10**6)}"
        texts[next_id], langs[next_id] = " ".join(words), langs[src]
        near_pairs.append((src, next_id))
        next_id += 1
    order = list(range(next_id))
    rng.shuffle(order)  # planted copies are not clustered at the end
    table = pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": pa.array([texts[d] for d in order], pa.string()),
        "lang": pa.array([langs[d] for d in order], pa.string()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return Corpus(path, next_id, texts, exact_groups, near_pairs)


def _spread(rng: random.Random, items: list, k: int) -> list:
    """k items at even steps through `items`, from a seeded offset."""
    step = len(items) / k
    offset = rng.random() * step
    return [items[int(offset + i * step)] for i in range(k)]


def _matches_label(text: str, lang: str) -> bool:
    """Python mirror of the program's marker-count language guess
    (first-wins tie-break en ≥ es ≥ de)."""
    words = text.split(" ")
    c = {k: sum(w in m for w in words) for k, m in LANG_MARKERS.items()}
    guess = ("en" if c["en"] >= c["es"] and c["en"] >= c["de"]
             else "es" if c["es"] >= c["de"] else "de")
    return guess == lang


def shingle_set(text: str, k: int = 3) -> set[str]:
    """Distinct word k-grams, the program's shingle definition."""
    w = text.split(" ")
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = shingle_set(a, k), shingle_set(b, k)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0
