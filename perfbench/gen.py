"""Seeded input generators for the benchmark workloads.

Both generators are pure functions of their seed: the same seed writes
byte-identical files and returns the same expectations. The program under
test only ever sees the files; the expectations (document ids, planted
counts) stay with the benchmark and feed the output checks.

    python3 perfbench/gen.py shipment --seed 1 --out DIR
    python3 perfbench/gen.py corpus   --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import json
import os
import random
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Input sizes, the one place they are set; perfbench/baseline.json gives
# the reasons. SHIPMENT_ROWS: rows per daily shipment CSV, enough that the
# largest source_group partition (about 1350 documents of about 9.3 kB)
# passes the 12 MB file cap, so the sink rolls files. CORPUS_DOCS: valid
# documents in the corpus, the most for which a run's two curations and its
# set-up still fit the benchmark's time budget.
SHIPMENT_ROWS = 2200
CORPUS_DOCS = 2000

# ---------------------------------------------------------------------------
# shipment CSVs (FIXTURES.md section 1 cell classes)
# ---------------------------------------------------------------------------

_PORTS = (
    "HO CHI MINH(VNSGN)", "BUSAN(KRPUS)", "LOS ANGELES, CA(USLAX)",
    "SHANGHAI(CNSHA)", "SINGAPORE(SGSIN)", "ROTTERDAM(NLRTM)",
    "LONG BEACH, CA(USLGB)", "HAIPHONG(VNHPH)", "SAVANNAH, GA(USSAV)",
)
_VESSELS = ("KMTC BANGKOK", "EVER GIVEN", "MSC OSCAR", "HMM ALGECIRAS", "ONE APUS")
_CARRIERS = (
    "PAN CONTINENTAL SHIPPING CO LTD", "EVERGREEN MARINE", "MAERSK LINE",
    "OCEAN NETWORK EXPRESS", "HAPAG-LLOYD",
)
_PARTIES = ("ACME APPAREL", "NORTHWIND TRADING", "GLOBEX VIETNAM", "INITECH KOREA")
_SENTINELS = ("()", "nan", "NaN")
_BOOLS = ("Y", "YES", "TRUE", "1", "N", "NO", "FALSE", "0", " y ", "maybe", "")
_GARBAGE_DATES = ("TBD", "", "()", "nan", "32/13/2025")


def _date_cell(rng: random.Random, d: dt.date) -> str:
    """One date in a random accepted format, or a garbage/empty cell."""
    r = rng.random()
    if r < 0.45:
        return d.isoformat()
    if r < 0.80:
        return d.strftime("%d/%m/%Y")
    if r < 0.88:
        return f"{d.day}-{d.month}-{d.year % 100:02d}"
    return rng.choice(_GARBAGE_DATES)


def _multi(rng: random.Random, make, lo: int = 1, hi: int = 4) -> str:
    """Comma-separated multi-value cell with duplicates and stray blanks."""
    if rng.random() < 0.1:
        return ""
    vals = [make() for _ in range(rng.randint(lo, hi))]
    if rng.random() < 0.3:
        vals.append(vals[0])  # duplicate value
    if rng.random() < 0.2:
        vals.insert(1, " ")  # blank element
    return ",".join(vals)


def _consignee(rng: random.Random) -> str:
    r = rng.random()
    name = rng.choice(("AMER SPORTS KOREA LTD", "ACME CORP", "GLOBEX LLC"))
    if r < 0.55:
        return f"{name}({rng.randint(0, 9_999_999):07d})"
    if r < 0.70:
        return name  # no parens
    if r < 0.85:
        return f"A CO({rng.randint(0, 999_999):07d})|B CO({rng.randint(0, 999_999):07d})"
    if r < 0.95:
        return f"{name}({rng.randint(10**10, 10**11 - 1)})"  # > 9 digits
    return ""


def _blank_id(rng: random.Random) -> str:
    return rng.choice(("", "  ", "()", "nan", "NaN"))


def _id_cells(rng: random.Random, day: int, i: int) -> tuple[str, str, str, str]:
    """(job_no, carr_eqp_uid, container_number, expected document_id).

    The id chain is carr_eqp_uid -> job_no -> container_number -> doc_<n>
    (FIXTURES.md section 3). Cells are trimmed, ``()``/``nan``/``NaN`` are
    blank and embedded double quotes are stripped before the chain picks.
    ``doc_<n>`` rows are returned with an empty expectation and numbered
    by the caller.
    """
    job = f"VN{day:02d}ASK{i:05d}"
    uid = f"{(day * 100_003 + i) % 10**12:012d}"  # leading zeros survive
    cont = f"{rng.choice('FTMC')}{rng.choice('FAES')}AU{rng.randint(0, 9_999_999):07d}"
    r = rng.random()
    if r < 0.80:
        if rng.random() < 0.1:
            return job, f' "{uid}" ', cont, uid  # quotes + padding stripped
        return job, uid, cont, uid
    if r < 0.90:
        return job, _blank_id(rng), cont, job
    if r < 0.97:
        return _blank_id(rng), _blank_id(rng), cont, cont
    return _blank_id(rng), _blank_id(rng), _blank_id(rng), ""


def _shipment_row(rng: random.Random, canonical: tuple[str, ...], day: int, i: int):
    job, uid, cont, expected = _id_cells(rng, day, i)
    # one day's export: ETDs within November 2025. About 60 % of the rows
    # land in the 2025-11 source_group; garbage ETD cells go to the null
    # group and ambiguous day/month cells to other months.
    base = dt.date(2025, 11, 1) + dt.timedelta(days=rng.randint(0, 29))
    cells: dict[str, str] = {"job_no": job, "carr_eqp_uid": uid, "container_number": cont}
    for k, name in enumerate(canonical):
        if name in cells:
            continue
        if name == "etd_lp_date":
            # all-blank-id rows share the null source_group, so their
            # doc_<n> fallback ids are doc_1..doc_m of that one partition
            cells[name] = "TBD" if not expected else _date_cell(rng, base)
        elif name in ("cargo_receiveds_date", "cargo_ready_date"):
            cells[name] = _multi(
                rng, lambda: (base - dt.timedelta(days=rng.randint(0, 9))).isoformat()
            )
        elif name.endswith("_date"):
            cells[name] = _date_cell(rng, base + dt.timedelta(days=k % 40))
        elif name == "consignee_raw":
            cells[name] = _consignee(rng)
        elif name in ("po_numbers", "booking_numbers", "fcr_numbers", "obl_nos"):
            cells[name] = _multi(rng, lambda: f"{rng.randint(0, 10**10 - 1):010d}")
        elif name == "hot_container_flag":
            cells[name] = rng.choice(_BOOLS)
        elif name.endswith("_lcn") or name.endswith("port") or name in (
            "last_cy_location", "place_of_receipt", "place_of_delivery",
            "final_destination",
        ):
            cells[name] = rng.choice(_PORTS)
        elif "vessel_name" in name:
            cells[name] = rng.choice(_VESSELS)
        elif "carrier" in name and "name" in name:
            cells[name] = rng.choice(_CARRIERS)
        elif name.endswith("_name"):
            cells[name] = rng.choice(_PARTIES)
        elif rng.random() < 0.08:
            cells[name] = rng.choice(_SENTINELS)
        elif rng.random() < 0.5:
            cells[name] = str(rng.randint(0, 5000))
        else:
            cells[name] = rng.choice(("No", "Yes", "CY", "DOOR(CFS)", "SEA", "C4", ""))
    return [cells[c] for c in canonical], expected


def write_shipment_day(out_dir: str, seed: int) -> dict:
    """Write one daily shipment CSV of :data:`SHIPMENT_ROWS` rows under ``out_dir``.

    Returns ``path``, ``rows`` and ``ids`` (the expected ``document_id`` of
    every row, ``doc_<n>`` fallbacks included).
    """
    from jsonl_dataingestion_pipeline_spark.schema import COLUMN_MAPPING

    headers = [src for src, _ in COLUMN_MAPPING]
    canonical = tuple(dst for _, dst in COLUMN_MAPPING)
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"shipment:{seed}")
    day = seed % 100  # varies the job_no / carr_eqp_uid prefixes by day
    ids: list[str] = []
    path = os.path.join(out_dir, "shipments.csv")
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(headers)
        n_fallback = 0
        for i in range(SHIPMENT_ROWS):
            row, expected = _shipment_row(rng, canonical, day, i)
            if not expected:
                n_fallback += 1
                expected = f"doc_{n_fallback}"
            ids.append(expected)
            w.writerow(row)
    return {"path": path, "rows": SHIPMENT_ROWS, "ids": ids}


# ---------------------------------------------------------------------------
# corpus JSONL (planted duplicates, boilerplate and malformed lines)
# ---------------------------------------------------------------------------

_STOP = ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with", "a", "on")
_BOILERPLATE = (
    "cookie notice we use cookies to improve your experience",
    "subscribe to our newsletter for the latest news today",
    "all rights reserved copyright the example media group",
)
_MALFORMED = (
    '{"doc_id": 1, "lang": "en", "text": "truncated',
    "this line is not json at all",
    '{"doc_id": 2,, "lang": "en"}',
    "[1, 2, 3",
)


def _words(rng: random.Random, n: int) -> list[str]:
    out = []
    for _ in range(n):
        if rng.random() < 0.3:
            out.append(rng.choice(_STOP))
        else:
            out.append("".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                               for _ in range(rng.randint(3, 9))))
    return out


def normalized(text: str) -> str:
    """Normalized text key: lower-case, whitespace collapsed, trimmed."""
    return re.sub(r"\s+", " ", text.strip()).lower()


def write_corpus(out_dir: str, seed: int) -> dict:
    """Write one JSONL corpus of :data:`CORPUS_DOCS` valid lines plus malformed lines.

    Planted: exact duplicates (case/whitespace variants of an original),
    near duplicates (a few words replaced), boilerplate 8-token lines
    shared across documents and ``malformed`` unparseable lines. Returns
    ``path``, ``docs``, ``ids`` (every valid ``doc_id``) and the planted
    counts.
    """
    rng = random.Random(f"corpus:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "corpus.jsonl")
    originals: list[str] = []
    lines: list[str] = []
    ids: list[int] = []
    planted = {"exact_dups": 0, "near_dups": 0, "boilerplate_docs": 0, "malformed": 0}
    langs = ("en", "en", "en", "de", "fr", "es")
    for i in range(CORPUS_DOCS):
        doc_id = 1_000_000 + i
        r = rng.random()
        if originals and r < 0.10:
            text = rng.choice(originals)
            text = text.upper() if rng.random() < 0.5 else "  " + text.replace(" ", "   ")
            planted["exact_dups"] += 1
        elif originals and r < 0.18:
            toks = rng.choice(originals).split(" ")
            for _ in range(max(1, len(toks) // 25)):
                k = rng.randrange(len(toks))
                toks[k] = "x" + toks[k]  # never equal to the original token
            text = " ".join(toks)
            planted["near_dups"] += 1
        else:
            toks = _words(rng, rng.randint(56, 120))
            if rng.random() < 0.25:  # an aligned 8-token boilerplate line
                toks = rng.choice(_BOILERPLATE).split(" ") + toks
                planted["boilerplate_docs"] += 1
            text = " ".join(toks)
            originals.append(text)
        ids.append(doc_id)
        lines.append(json.dumps({"doc_id": doc_id, "lang": rng.choice(langs), "text": text}))
        if rng.random() < 0.004:
            lines.append(rng.choice(_MALFORMED))
            planted["malformed"] += 1
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return {"path": path, "docs": CORPUS_DOCS, "ids": ids, **planted}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=("shipment", "corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    if a.kind == "shipment":
        info = write_shipment_day(a.out, a.seed)
        print(json.dumps({"path": info["path"], "rows": info["rows"]}))
    else:
        info = write_corpus(a.out, a.seed)
        print(json.dumps({k: v for k, v in info.items() if k != "ids"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
