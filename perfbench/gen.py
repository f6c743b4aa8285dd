"""Seeded generator for the benchmark's inputs.

Writes, under one output directory:

- the seven OpenAPC raw CSVs the ETL reads (``apc_de.csv``, ``bpc.csv``,
  ``transformative_agreements.csv``, the two DEAL opt-out files,
  ``institutions.csv``, ``apc_de_additional_costs.csv``);
- ``corrections/batch_NNNN.csv``: correction batches for the openapc cube,
  already in cube-row shape (country and institution_ror filled in), each
  row carrying the batch number as ``seq``;
- ``documents.parquet``: a documents corpus (doc_id, text, lang, source,
  n_chars) with exact and near duplicates, for the operator workload.

The value domains follow FIXTURES.md section C: "NA" doi and url values,
titles with colons and non-ASCII letters, the DEAL imprint strings, 2019
rows with odd cents (the euro halving rule), institutions whose cube name is
"NA", and Zipf-skewed institution sizes. Every APC row gets a unique
(institution, publication key) so corrections can address it.

The same seed and sizes give byte-identical files.

    python3 perfbench/gen.py --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import csv
import os
import random
from dataclasses import dataclass

APC_CSV_COLUMNS = [
    "institution", "period", "euro", "doi", "is_hybrid", "publisher",
    "journal_full_title", "issn", "issn_print", "issn_electronic", "issn_l",
    "license_ref", "indexed_in_crossref", "pmid", "pmcid", "ut", "url", "doaj",
]
APC_CUBE_COLUMNS = APC_CSV_COLUMNS + ["country", "institution_ror"]
BPC_CSV_COLUMNS = [
    "institution", "period", "euro", "doi", "backlist_oa", "publisher",
    "book_title", "isbn", "isbn_print", "isbn_electronic", "license_ref",
    "indexed_in_crossref", "doab",
]
TA_CSV_COLUMNS = APC_CSV_COLUMNS + ["agreement"]
INSTITUTION_COLUMNS = [
    "institution", "institution_full_name", "institution_cubes_name",
    "ror_id", "continent", "country", "state",
]

PERIODS = [str(y) for y in range(2013, 2024)]
DEAL_IMPRINTS = [
    "Wiley-Blackwell", "EMBO", "American Geophysical Union (AGU)",
    "International Union of Crystallography (IUCr)", "The Econometric Society",
    "Springer Nature", "Zhejiang University Press",
]
OTHER_PUBLISHERS = [
    "Elsevier BV", "MDPI AG", "Frontiers Media SA", "Public Library of Science (PLoS)",
    "Copernicus GmbH", "Oxford University Press (OUP)", "BMJ", "IOP Publishing",
    "De Gruyter", "Taylor & Francis", "SAGE Publications", "Hindawi Limited",
]
AGREEMENTS = ["DEAL Wiley Germany", "DEAL Springer Nature Germany",
              "Springer Compact", "Elsevier Read and Publish", "IOP Germany"]
COUNTRIES = [("DEU", "Europe", 0.55), ("GBR", "Europe", 0.12),
             ("AUT", "Europe", 0.08), ("CHE", "Europe", 0.06),
             ("NLD", "Europe", 0.05), ("SWE", "Europe", 0.05),
             ("USA", "North America", 0.05), ("CAN", "North America", 0.04)]
TITLE_WORDS = ["Journal", "Physics", "Chemistry", "Biology", "Review",
               "Letters", "Medicine", "Ökologie", "Zeitschrift", "für",
               "Society", "Annals", "Research", "Économie", "Systems",
               "Analysis", "Science", "Genetics", "Über", "Methods"]
LICENSES = ["CC BY", "CC BY-NC", "CC BY-NC-ND", "CC0", "NA"]
# per-language vocabularies so a trained language identifier can learn
LANG_VOCAB = {
    "en": "the data table value query order window group stream batch "
          "column merge join filter sort scan fast small big line key "
          "hash part row agg spark vector customer slow time index".split(),
    "de": "der die das daten tabelle wert abfrage reihe fenster gruppe "
          "strom stapel spalte zusammen filter sortieren schnell klein "
          "gross zeile schluessel teil zeit index kunde langsam".split(),
    "es": "el la los datos tabla valor consulta orden ventana grupo flujo "
          "lote columna unir filtro ordenar rapido pequeno grande linea "
          "clave parte fila tiempo indice cliente lento".split(),
    "fr": "le la les donnees table valeur requete ordre fenetre groupe "
          "flux lot colonne fusion filtre trier rapide petit grand ligne "
          "cle partie rangee temps indice client lent".split(),
}


@dataclass(frozen=True)
class Sizes:
    """Input sizes; the defaults are the benchmark's."""

    apc_rows: int = 4000
    institutions: int = 10
    batches: int = 4
    batch_rows: int = 150
    documents: int = 200

    def scaled(self, factor: float) -> "Sizes":
        return Sizes(*(max(4, int(v * factor)) for v in
                       (self.apc_rows, self.institutions, self.batches,
                        self.batch_rows, self.documents)))


def _write_csv(path: str, columns: list[str], rows) -> int:
    n = 0
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(columns)
        for r in rows:
            w.writerow([r[c] for c in columns])
            n += 1
    return n


def _zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def _euro(rng: random.Random) -> str:
    # odd cents are common, so 2019 halving hits round-half cases
    return f"{rng.randint(300, 5200)}.{rng.randint(0, 99):02d}"


class _Gen:
    def __init__(self, seed: int, sizes: Sizes) -> None:
        self.rng = random.Random(seed)
        self.sizes = sizes
        self.institutions = self._institutions()
        self.inst_weights = _zipf_weights(len(self.institutions))
        self.journals = self._journals(80)
        self.next_article = 0

    def _institutions(self) -> list[dict]:
        rng = self.rng
        out = []
        for i in range(self.sizes.institutions):
            country, continent, _ = rng.choices(
                COUNTRIES, weights=[c[2] for c in COUNTRIES])[0]
            # names with spaces need URL-encoding in cuts
            name = f"Univ {i:03d}" if i % 3 == 0 else f"INST{i:03d}"
            out.append({
                "institution": name,
                "institution_full_name": f"Universität Nummer {i}",
                # every 7th institution gets no institutional cubes
                "institution_cubes_name": "NA" if i % 7 == 6 else f"inst{i:03d}",
                "ror_id": (f"https://ror.org/0{rng.randrange(16**8):08x}"
                           if i % 5 else "NA"),
                "continent": continent, "country": country,
                "state": "NA" if country != "DEU" else f"State {i % 16}",
            })
        # the DEAL rules need German institutions; keep the largest two German
        for r in out[:2]:
            r["country"], r["continent"] = "DEU", "Europe"
        return out

    def _journals(self, n: int) -> list[dict]:
        rng = self.rng
        out = []
        for j in range(n):
            words = rng.sample(TITLE_WORDS, 3)
            title = " ".join(words)
            if j % 4 == 0:
                title = f"{words[0]}: {words[1]} {words[2]}"   # scrubbed by the ETL
            issn = f"{rng.randrange(10000):04d}-{rng.randrange(10000):04d}"
            publisher = (rng.choice(DEAL_IMPRINTS) if j % 3 == 0
                         else rng.choice(OTHER_PUBLISHERS))
            out.append({"journal_full_title": f"{title} {j}", "issn": issn,
                        "publisher": publisher,
                        "is_hybrid": "TRUE" if j % 5 == 0 else "FALSE"})
        return out

    def _pick_institution(self) -> dict:
        return self.rng.choices(self.institutions, weights=self.inst_weights)[0]

    def article(self, inst: dict | None = None, period: str | None = None) -> dict:
        """One APC-shaped row with a unique publication key per institution."""
        rng = self.rng
        inst = inst or self._pick_institution()
        j = rng.choice(self.journals)
        self.next_article += 1
        n = self.next_article
        springer = j["publisher"] == "Springer Nature"
        if rng.random() < 0.1:
            doi = "NA"
        elif springer:
            doi = f"10.1007/s{rng.randrange(1, 99999):05d}-{n:06d}"
        else:
            doi = f"10.{rng.randrange(1000, 9999)}/bench.{n}"
        # a url always exists when the doi is NA (else the ETL aborts)
        scheme = rng.choice(["http", "https"])
        url = (f"{scheme}://example.org/a/{n}"
               if doi == "NA" or rng.random() < 0.5 else "NA")
        return {
            "institution": inst["institution"],
            "period": period or rng.choice(PERIODS),
            "euro": _euro(rng), "doi": doi, "is_hybrid": j["is_hybrid"],
            "publisher": j["publisher"],
            "journal_full_title": j["journal_full_title"], "issn": j["issn"],
            "issn_print": j["issn"], "issn_electronic": "NA", "issn_l": j["issn"],
            "license_ref": rng.choice(LICENSES),
            "indexed_in_crossref": "TRUE" if doi != "NA" else "FALSE",
            "pmid": "NA" if n % 3 else str(20000000 + n),
            "pmcid": "NA", "ut": "NA", "url": url,
            "doaj": rng.choice(["TRUE", "FALSE"]),
        }

    def apc(self) -> list[dict]:
        rows = [self.article() for _ in range(self.sizes.apc_rows)]
        # shared DOIs across institutions (count vs count_distinct differ)
        for k in range(0, len(rows) - 1, 97):
            a, b = rows[k], rows[k + 1]
            if (a["doi"] != "NA" and b["doi"] != "NA"
                    and a["institution"] != b["institution"]):
                b["doi"] = a["doi"]
        return rows

    def ta(self) -> list[dict]:
        rows = []
        for _ in range(self.sizes.apc_rows // 3):
            r = self.article()
            r["agreement"] = self.rng.choice(AGREEMENTS)
            if self.rng.random() < 0.4:
                r["euro"] = "NA"
            rows.append(r)
        return rows

    def opt_out(self, publishers: list[str]) -> list[dict]:
        rows = []
        german = [i for i in self.institutions if i["country"] == "DEU"]
        for k in range(max(20, self.sizes.apc_rows // 100)):
            r = self.article(self.rng.choice(german),
                             period="2019" if k % 3 == 0 else None)
            r["publisher"] = publishers[k % len(publishers)]
            rows.append(r)
        return rows

    def bpc(self) -> list[dict]:
        rng = self.rng
        rows = []
        for k in range(max(20, self.sizes.apc_rows // 20)):
            inst = self._pick_institution()
            isbn = f"978-3-{rng.randrange(100000):05d}-{k:04d}"
            rows.append({
                "institution": inst["institution"],
                "period": rng.choice(PERIODS), "euro": _euro(rng),
                "doi": "NA" if k % 9 == 0 else f"10.5555/book.{k}",
                "backlist_oa": rng.choice(["TRUE", "FALSE"]),
                "publisher": rng.choice(OTHER_PUBLISHERS + ["Springer Nature"]),
                "book_title": f"Handbuch {k}: Grundlagen der Ökonomie",
                "isbn": isbn, "isbn_print": isbn, "isbn_electronic": "NA",
                "license_ref": rng.choice(LICENSES),
                "indexed_in_crossref": "TRUE", "doab": rng.choice(["TRUE", "FALSE"]),
            })
        return rows

    def additional_costs(self, apc: list[dict]) -> list[dict]:
        rng = self.rng
        dois = sorted({r["doi"] for r in apc if r["doi"] != "NA"})
        rows = []
        for doi in rng.sample(dois, min(len(dois), max(10, len(apc) // 30))):
            cells = [f"{rng.randint(50, 900)}.{rng.randint(0, 99):02d}",
                     "", "NA", "unknown"]
            rows.append({"doi": doi,
                         "colorpage": rng.choice(cells),
                         "pagecharge": rng.choice(cells),
                         "submissionfee": rng.choice(cells)})
        return rows

    def corrections(self, apc: list[dict]) -> list[list[dict]]:
        """Correction batches in openapc-cube row shape. Each batch mixes
        new articles, euro fixes and rows that move to another
        (period, publisher) group; a key appears at most once per batch."""
        rng = self.rng
        by_name = {i["institution"]: i for i in self.institutions}
        current = [dict(r) for r in apc]
        batches = []
        for b in range(self.sizes.batches):
            out = []
            n = self.sizes.batch_rows
            for idx in rng.sample(range(len(current)), (2 * n) // 3):
                r = current[idx]
                if rng.random() < 0.5:
                    r["euro"] = _euro(rng)
                else:
                    j = rng.choice(self.journals)
                    r["period"] = rng.choice(PERIODS)
                    r["publisher"] = j["publisher"]
                out.append(dict(r))
            for _ in range(n - len(out)):
                r = self.article()
                current.append(r)
                out.append(dict(r))
            for r in out:
                inst = by_name[r["institution"]]
                r["country"] = inst["country"]
                r["institution_ror"] = (inst["ror_id"][16:]
                                        if inst["ror_id"].startswith("https://ror.org/")
                                        else "NA")
                r["journal_full_title"] = r["journal_full_title"].replace(":", "")
                r["seq"] = str(b + 1)
            batches.append(out)
        return batches

    def documents(self) -> list[dict]:
        """Docs with exact duplicates (case/whitespace variants) and near
        duplicates (a few words replaced); the seed fixes the row order."""
        rng = self.rng
        langs = sorted(LANG_VOCAB)
        docs = []
        for k in range(self.sizes.documents):
            r = rng.random()
            if docs and r < 0.08:
                src = rng.choice(docs)
                text = "  ".join(src["text"].upper().split())
                lang = src["lang"]
            elif docs and r < 0.25:
                src = rng.choice(docs)
                words = src["text"].split()
                vocab = LANG_VOCAB[src["lang"]]
                for _ in range(max(1, len(words) // 25)):
                    words[rng.randrange(len(words))] = rng.choice(vocab)
                text, lang = " ".join(words), src["lang"]
            else:
                lang = rng.choice(langs)
                vocab = LANG_VOCAB[lang]
                text = " ".join(rng.choice(vocab)
                                for _ in range(rng.randint(15, 70)))
            docs.append({"text": text, "lang": lang,
                         "source": f"src{rng.randrange(12)}"})
        rng.shuffle(docs)
        for i, d in enumerate(docs):
            d["doc_id"] = i
            d["n_chars"] = len(d["text"])
        return docs


def _write_documents(path: str, docs: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": pa.array([d["text"] for d in docs], pa.string()),
        "lang": pa.array([d["lang"] for d in docs], pa.string()),
        "source": pa.array([d["source"] for d in docs], pa.string()),
        "n_chars": pa.array([d["n_chars"] for d in docs], pa.int32()),
    })
    pq.write_table(table, path, compression="snappy")


def generate(out_dir: str, seed: int, sizes: Sizes = Sizes(),
             openapc: bool = True, docs: bool = True) -> dict:
    """Write every input under ``out_dir``; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    g = _Gen(seed, sizes)
    counts: dict[str, int] = {}
    if openapc:
        apc = g.apc()
        j = lambda n: os.path.join(out_dir, n)  # noqa: E731
        counts["institutions"] = _write_csv(j("institutions.csv"),
                                            INSTITUTION_COLUMNS, g.institutions)
        counts["apc"] = _write_csv(j("apc_de.csv"), APC_CSV_COLUMNS, apc)
        counts["ta"] = _write_csv(j("transformative_agreements.csv"),
                                  TA_CSV_COLUMNS, g.ta())
        counts["bpc"] = _write_csv(j("bpc.csv"), BPC_CSV_COLUMNS, g.bpc())
        counts["wiley_opt_out"] = _write_csv(
            j("deal_wiley_germany_opt_out.csv"), APC_CSV_COLUMNS,
            g.opt_out(DEAL_IMPRINTS[:5]))
        counts["springer_opt_out"] = _write_csv(
            j("deal_springer_nature_germany_opt_out.csv"), APC_CSV_COLUMNS,
            g.opt_out(DEAL_IMPRINTS[5:]))
        counts["additional_costs"] = _write_csv(
            j("apc_de_additional_costs.csv"),
            ["doi", "colorpage", "pagecharge", "submissionfee"],
            g.additional_costs(apc))
        os.makedirs(j("corrections"), exist_ok=True)
        for b, rows in enumerate(g.corrections(apc)):
            _write_csv(j(f"corrections/batch_{b + 1:04d}.csv"),
                       APC_CUBE_COLUMNS + ["seq"], rows)
        counts["batches"] = sizes.batches
    if docs:
        d = g.documents()
        _write_documents(os.path.join(out_dir, "documents.parquet"), d)
        counts["documents"] = len(d)
    return counts


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    print(generate(args.out, args.seed))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
