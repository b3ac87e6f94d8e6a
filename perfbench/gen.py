"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from a seed: the
clinical study (CSV source, JSON spec, JSON schemas) for the ``study``
workload and the parquet tables for ``registry_ops``.  A study comes with
its truth: the rows every table must hold and, for tables with a schema,
how many of them are valid.  Invalid cells are planted at known rates so
that the truth is known without running the parser:

- bad dates (``N/K`` and similar) in the subject's enrolment date and in
  the visit date; both fields are required, so the row is invalid;
- ages of 130-199 years, over the schema's 1440-month maximum;
- country codes outside the schema's ISO3 list;
- lab names outside the observation schema's discriminator options.
"""

from __future__ import annotations

import csv
import json
import math
import random
from dataclasses import dataclass
from pathlib import Path

ISO3 = [
    "BRA", "GBR", "IND", "KEN", "NGA", "PER", "PHL", "USA", "VNM", "ZAF",
    "COL", "EGY", "FRA", "GHA", "IDN", "MEX", "PAK", "THA", "UGA", "ZMB",
]
BAD_ISO3 = ["XXX", "UK", "ZZ9", "N/A"]
BAD_DATES = ["N/K", "unknown", "--/--/----", "pending"]
LABS = ["hb", "crp", "wbc"]
BAD_LABS = ["hb_x", "troponin", "lab?"]

BAD_DATE_RATE = 0.03
BAD_AGE_RATE = 0.02
BAD_ISO3_RATE = 0.02
LAB_RATE = 0.6
BAD_LAB_RATE = 0.05
SYMPTOM_BLANK_RATE = 0.25
SYMPTOMS = 6  # symptom columns, one for-loop iteration each

SCHEMA_TABLES = ("subject", "observation", "visit")


@dataclass
class Study:
    spec_path: Path
    csv_path: Path
    source_rows: int
    rows: dict[str, int]  # rows each table must hold
    valid: dict[str, int]  # valid rows of each table that has a schema


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/{rng.randint(2019, 2023)}"


def _spec(name: str, schema_dir: Path) -> dict:
    """Four tables: constant, groupBy, oneToMany and oneToOne."""
    tables = {
        "metadata": {"kind": "constant"},
        "subject": {
            "kind": "groupBy",
            "groupBy": "subject_id",
            "aggregation": "applyCombinedType",
        },
        "observation": {
            "kind": "oneToMany",
            "discriminator": "name",
            "common": {"subject_id": {"field": "sid"}},
        },
        "visit": {"kind": "oneToOne"},
    }
    for table in SCHEMA_TABLES:
        tables[table]["schema"] = str(schema_dir / f"{table}.schema.json")
    symptoms = range(1, SYMPTOMS + 1)
    return {
        "adtl": {
            "name": name,
            "description": "synthetic clinical study",
            "defaultDateFormat": "%d/%m/%Y",
            "tables": tables,
            "defs": {"yesno": {"values": {"1": True, "0": False}}},
        },
        "metadata": {"dataset": name, "version": 1},
        "subject": {
            "subject_id": {"field": "sid"},
            "sex": {"field": "sex", "values": {"1": "male", "2": "female"}},
            "age_months": {
                "field": "age",
                "source_unit": {
                    "field": "ageu",
                    "values": {"1": "years", "2": "months"},
                },
                "unit": "months",
            },
            "country_iso3": {"field": "country"},
            "enrolment_date": {"field": "enrol_date", "source_date": "%d/%m/%Y"},
            "first_visit": {
                "combinedType": "min",
                "fields": [{"field": "visit_date", "source_date": "%d/%m/%Y"}],
            },
            "any_symptom": {
                "combinedType": "any",
                "fields": [{"field": f"sym{k}", "ref": "yesno"} for k in symptoms],
            },
            "symptoms": {
                "combinedType": "set",
                "excludeWhen": "none",
                "fields": [
                    {"field": f"sym{k}", "values": {"1": f"symptom_{k}"}}
                    for k in symptoms
                ],
            },
        },
        "observation": [
            {
                "for": {"k": {"range": [1, SYMPTOMS]}},
                "name": "symptom_{k}",
                "visit": {"field": "visit_no"},
                "is_present": {"field": "sym{k}", "ref": "yesno"},
                "if": {"any": [{"sym{k}": "1"}, {"sym{k}": "0"}]},
            },
            {
                "name": {"field": "lab_name"},
                "visit": {"field": "visit_no"},
                "value": {"field": "lab_value"},
                "if": {"lab_name": {"!=": ""}},
            },
        ],
        "visit": {
            "subject_id": {"field": "sid"},
            "visit_no": {"field": "visit_no"},
            "visit_date": {"field": "visit_date", "source_date": "%d/%m/%Y"},
            "temperature": {"field": "temp"},
            "spo2": {"field": "spo2"},
        },
    }


def _schemas() -> dict[str, dict]:
    symptoms = [f"symptom_{k}" for k in range(1, SYMPTOMS + 1)]
    return {
        "subject": {
            "type": "object",
            "properties": {
                "subject_id": {"type": "string"},
                "sex": {"enum": ["male", "female"]},
                "age_months": {"type": "number", "minimum": 0, "maximum": 1440},
                "country_iso3": {"enum": ISO3},
                "enrolment_date": {"type": "string", "format": "date"},
                "first_visit": {"type": "string", "format": "date"},
                "any_symptom": {"type": "boolean"},
                "symptoms": {"type": "array", "items": {"type": "string"}},
            },
            "required": ["subject_id", "age_months", "country_iso3", "enrolment_date"],
        },
        "observation": {
            "type": "object",
            "properties": {
                "subject_id": {"type": "string"},
                "name": {"type": "string"},
                "visit": {"type": "integer"},
                "is_present": {"type": "boolean"},
                "value": {"type": "number"},
            },
            "required": ["subject_id", "name"],
            "oneOf": [
                {
                    "properties": {
                        "name": {"enum": symptoms},
                        "is_present": {"type": "boolean"},
                    },
                    "required": ["is_present"],
                },
                {
                    "properties": {
                        "name": {"enum": LABS},
                        "value": {"type": "number"},
                    },
                    "required": ["value"],
                },
            ],
        },
        "visit": {
            "type": "object",
            "properties": {
                "subject_id": {"type": "string"},
                "visit_no": {"type": "integer", "minimum": 1},
                "visit_date": {"type": "string", "format": "date"},
                "temperature": {"type": "number", "minimum": 30, "maximum": 45},
                "spo2": {"type": "integer", "minimum": 50, "maximum": 100},
            },
            "required": ["subject_id", "visit_no", "visit_date"],
        },
    }


def clinical_study(seed: int, n_subjects: int, out_dir: Path) -> Study:
    """Write one study (CSV, spec, schemas) under ``out_dir``; return it
    with its truth.  Subjects have 1-5 visits, 3 on average."""
    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    header = [
        "sid", "visit_no", "sex", "age", "ageu", "country", "enrol_date",
        "visit_date", "temp", "spo2", "lab_name", "lab_value",
    ] + [f"sym{k}" for k in range(1, SYMPTOMS + 1)]

    valid = dict.fromkeys(SCHEMA_TABLES, 0)
    n_rows = n_obs = 0
    with open(out_dir / "study.csv", "w", newline="") as fp:
        writer = csv.writer(fp)
        writer.writerow(header)
        for s in range(n_subjects):
            sid = f"S{seed}-{s:06d}"
            sex = rng.choice("12")
            if rng.random() < 0.7:
                age, ageu = rng.randint(0, 100), "1"
            else:
                age, ageu = rng.randint(0, 1200), "2"
            bad_age = rng.random() < BAD_AGE_RATE
            if bad_age:
                age, ageu = rng.randint(130, 199), "1"
            bad_iso = rng.random() < BAD_ISO3_RATE
            country = rng.choice(BAD_ISO3 if bad_iso else ISO3)
            bad_enrol = rng.random() < BAD_DATE_RATE
            enrol = rng.choice(BAD_DATES) if bad_enrol else _date(rng)
            if not (bad_age or bad_iso or bad_enrol):
                valid["subject"] += 1
            visits = rng.choice((1, 2, 3, 3, 4, 5))
            for v in range(1, visits + 1):
                bad_visit = rng.random() < BAD_DATE_RATE
                visit_date = rng.choice(BAD_DATES) if bad_visit else _date(rng)
                if not bad_visit:
                    valid["visit"] += 1
                syms = [
                    "" if rng.random() < SYMPTOM_BLANK_RATE else rng.choice("01")
                    for _ in range(SYMPTOMS)
                ]
                n_sym = sum(1 for x in syms if x)
                lab_name = lab_value = ""
                if rng.random() < LAB_RATE:
                    bad_lab = rng.random() < BAD_LAB_RATE
                    lab_name = rng.choice(BAD_LABS if bad_lab else LABS)
                    lab_value = f"{rng.uniform(0.5, 200):.1f}"
                    n_obs += 1
                    if not bad_lab:
                        valid["observation"] += 1
                n_obs += n_sym
                valid["observation"] += n_sym
                writer.writerow(
                    [
                        sid, v, sex, age, ageu, country, enrol, visit_date,
                        f"{rng.uniform(35.5, 40.5):.1f}", rng.randint(80, 100),
                        lab_name, lab_value, *syms,
                    ]
                )
                n_rows += 1

    name = f"study{seed}"
    for table, schema in _schemas().items():
        (out_dir / f"{table}.schema.json").write_text(json.dumps(schema))
    spec_path = out_dir / "spec.json"
    spec_path.write_text(json.dumps(_spec(name, out_dir.resolve())))
    return Study(
        spec_path=spec_path,
        csv_path=out_dir / "study.csv",
        source_rows=n_rows,
        rows={"metadata": 1, "subject": n_subjects, "observation": n_obs, "visit": n_rows},
        valid=valid,
    )


# ---------------------------------------------------------------- registry
#
# The registry tables follow the shapes measured on the TPC-H-style sf0.1
# test data the registry queries are written against (5,000 documents,
# 600,000 lineitem rows over 150,000 orders, 20,000 parts, 1,000
# suppliers), scaled down by one factor so that every table keeps its
# ratio to the others:
#
# - a document is 10-100 words (uniform) drawn uniformly from a 30-word
#   vocabulary; 5% of the documents are replaced, in document order, by
#   another document's current text plus the word ``dup``, which gives
#   near-duplicate chains and a few exact duplicate pairs;
# - languages are 40% ``en`` and 15% each of ``zh``, ``es``, ``fr``, ``de``;
#   ``source`` is ``src<doc_id % 20>``;
# - an order has a Poisson(4) number of lines (orders without lines
#   exist); each line has a uniform part, a uniform supplier and a uniform
#   line number 1-7.

WORDS = (
    "spark batch part line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "join vector customer the"
).split()
LANGS = (("en", 0.40), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.15))
DUP_RATE = 0.05
LINES_PER_ORDER = 4.0  # Poisson mean

# sf0.1 sizes; ``registry_tables`` multiplies each by its scale
SF01_DOCS = 5000
SF01_ORDERS = 150_000
SF01_PARTS = 20_000
SF01_SUPPLIERS = 1000


def _poisson(rng: random.Random, mean: float) -> int:
    """Knuth's method; fine for a small mean."""
    limit, k, p = math.exp(-mean), 0, rng.random()
    while p > limit:
        k += 1
        p *= rng.random()
    return k


def registry_tables(seed: int, out_dir: Path, scale: float) -> dict[str, int]:
    """Write ``documents``, ``lineitem`` and ``supplier`` parquet tables
    with the columns the registry queries read, ``scale`` times the size of
    sf0.1; return their row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_docs = round(SF01_DOCS * scale)
    n_orders = round(SF01_ORDERS * scale)
    n_parts = round(SF01_PARTS * scale)
    n_suppliers = round(SF01_SUPPLIERS * scale)

    texts = [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 100)))
        for _ in range(n_docs)
    ]
    for d in sorted(rng.sample(range(n_docs), round(n_docs * DUP_RATE))):
        other = rng.randrange(n_docs - 1)
        texts[d] = texts[other + (other >= d)] + " dup"
    langs, weights = zip(*LANGS)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": rng.choices(langs, weights, k=n_docs),
                "source": [f"src{d % 20}" for d in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        out_dir / "documents.parquet",
    )

    ok, pk, sk, ln = [], [], [], []
    for o in range(n_orders):
        for _ in range(_poisson(rng, LINES_PER_ORDER)):
            ok.append(o)
            pk.append(rng.randrange(n_parts))
            sk.append(rng.randrange(n_suppliers))
            ln.append(rng.randint(1, 7))
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(ok, pa.int64()),
                "l_partkey": pa.array(pk, pa.int64()),
                "l_suppkey": pa.array(sk, pa.int64()),
                "l_linenumber": pa.array(ln, pa.int32()),
            }
        ),
        out_dir / "lineitem.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array(range(n_suppliers), pa.int64()),
                "s_name": [f"Supplier#{s:09d}" for s in range(n_suppliers)],
                "s_nationkey": pa.array(
                    [rng.randrange(25) for _ in range(n_suppliers)], pa.int32()
                ),
                "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_suppliers)],
            }
        ),
        out_dir / "supplier.parquet",
    )
    return {"documents": n_docs, "lineitem": len(ok), "supplier": n_suppliers}
