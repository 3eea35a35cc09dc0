"""Seeded FHIR bundle corpora for the load and stream workloads, and the
outputs a correct load must produce, computed in plain Python.

The expected outputs restate the reference's rules independently of the
Spark code under test:

- rawstat: one row per well-formed bundle; the last Patient in entry order
  wins; ``agerange`` is the constant 1 only when a Patient exists (else 0,
  age 0); deceased = deceasedDateTime set OR deceasedBoolean true; an
  unknown city maps to empty FIPS strings; condition ids come from the
  (system, code) dimension, 0 when untracked, -999 for a tracked condition
  with no disease; ``unique*`` are sorted distinct sets.
- facts: alive rows only (deceased not true); disease and condition facts
  unwind the distinct sets and keep ids > 0.

A few corrupt files are planted per corpus; they must land in quarantine
and appear in no count or fact.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

SNOMED = "http://snomed.info/sct"
LOINC = "http://loinc.org"
AS_OF = (2020, 1, 1)  # run_pipeline's default as_of date

# county-subdivision dimension: (cs_name as stored, ct_fips, cs_fips); the
# loader strips a trailing " Town" so patients live in the stripped name
COUSUB = [
    ("Acton Town", "017", "00100"),
    ("Boston", "025", "07000"),
    ("Concord Town", "017", "00200"),
    ("Springfield", "013", "67000"),
    ("Worcester", "027", "82000"),
    ("Lowell", "017", "37000"),
    ("Amherst Town", "015", "01325"),
    ("Salem", "009", "59105"),
]
UNKNOWN_CITIES = ["Atlantis", "Gotham"]

# tracked conditions: (condition_id, disease_id or None, name, code)
CONDITIONS = [
    (101, 11, "Diabetes", "44054006"),
    (102, None, "Hypertension", "38341003"),
    (103, 12, "Asthma", "195967001"),
    (104, 13, "COPD", "13645005"),
    (105, 11, "Prediabetes", "15777000"),
    (106, 14, "Obesity", "162864005"),
    (107, None, "Sinusitis", "40055000"),
    (108, 15, "Anemia", "271737000"),
]
UNTRACKED_CODES = ["99999999", "10509002", "65363002"]
LARGE_MEAN_ENTRIES = 300
# Reference-typed resource fields the loader rewrites (besides the
# array-valued ``performer``)
SCALAR_REFERENCES = ("subject", "patient", "encounter", "context",
                     "serviceProvider", "organization", "medicationReference")


def _city_fips() -> dict[str, tuple[str, str]]:
    out = {}
    for name, ct, cs in COUSUB:
        city = name[: -len(" Town")] if name.endswith(" Town") else name
        out[city] = (ct, cs)
    return out


CITY_FIPS = _city_fips()
CODE_DIM = {code: (cid, did if did is not None else -999) for cid, did, _n, code in CONDITIONS}
CITIES = list(CITY_FIPS) + UNKNOWN_CITIES
ALL_CODES = [c[3] for c in CONDITIONS] + UNTRACKED_CODES


def _age(birth: str) -> int:
    y, m, d = (int(x) for x in birth.split("-"))
    return AS_OF[0] - y - (1 if (AS_OF[1], AS_OF[2]) < (m, d) else 0)


def new_id(bundle_id: str, full_url: str) -> str:
    """The loader's deterministic id: sha256 of 'bundle_id|fullUrl'."""
    return hashlib.sha256(f"{bundle_id}|{full_url}".encode()).hexdigest()


@dataclass
class Expected:
    """What a correct load of a corpus produces."""

    bundles: int = 0
    corrupt: int = 0
    entries: int = 0
    references: int = 0
    references_resolved: int = 0
    collections: Counter = field(default_factory=Counter)
    rawstat: list = field(default_factory=list)

    def facts(self) -> dict[str, set]:
        """The three fact tables as sets of tuples, column order as written
        by operators.stats."""
        pop: dict = defaultdict(lambda: [0, 0, 0])
        dis: dict = defaultdict(lambda: [0, 0, 0])
        cond: dict = defaultdict(lambda: [0, 0, 0])
        for r in self.rawstat:
            if r["deceasedboolean"]:
                continue
            male = 1 if r["gender"] == "male" else 0
            female = 1 if r["gender"] == "female" else 0
            cs = r["location"][1]
            for key, acc in [((cs, r["agerange"]), pop)] + [
                ((cs, d, r["agerange"]), dis) for d in r["uniquediseases"] if d > 0
            ] + [
                ((cs, c, r["agerange"]), cond) for c in r["uniqueconditions"] if c > 0
            ]:
                a = acc[key]
                a[0] += 1
                a[1] += male
                a[2] += female
        return {
            name: {k + tuple(v) for k, v in acc.items()}
            for name, acc in (("population", pop), ("disease", dis), ("condition", cond))
        }


def write_dims(root: str) -> tuple[str, str]:
    """The two dimension tables as parquet; returns (cousub, condition) paths."""
    cousub = os.path.join(root, "cousub")
    conddim = os.path.join(root, "conddim")
    for d in (cousub, conddim):
        os.makedirs(d)
    pq.write_table(pa.table({
        "cs_name": [c[0] for c in COUSUB],
        "ct_fips": [c[1] for c in COUSUB],
        "cs_fips": [c[2] for c in COUSUB],
    }), os.path.join(cousub, "part-0.parquet"))
    pq.write_table(pa.table({
        "condition_id": pa.array([c[0] for c in CONDITIONS], pa.int32()),
        "disease_id": pa.array([c[1] for c in CONDITIONS], pa.int32()),
        "condition_name": [c[2] for c in CONDITIONS],
        "code_system": [SNOMED] * len(CONDITIONS),
        "code": [c[3] for c in CONDITIONS],
    }), os.path.join(conddim, "part-0.parquet"))
    return cousub, conddim


# ---------------------------------------------------------------------------
# bundle construction
# ---------------------------------------------------------------------------


def _patient(rng: random.Random, url: str) -> dict:
    r: dict = {
        "resourceType": "Patient",
        "id": "p",
        "birthDate": f"{rng.randint(1925, 2018)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
        "address": [{"city": rng.choice(CITIES), "state": "MA",
                     "postalCode": f"0{rng.randint(1000, 2799)}"}],
    }
    g = rng.random()
    if g < 0.47:
        r["gender"] = "male"
    elif g < 0.94:
        r["gender"] = "female"
    elif g < 0.97:
        r["gender"] = "other"
    d = rng.random()
    if d < 0.06:
        r["deceasedBoolean"] = True
    elif d < 0.10:
        r["deceasedDateTime"] = "2015-03-04T00:00:00Z"
    elif d < 0.30:
        r["deceasedBoolean"] = False
    return {"fullUrl": url, "resource": r}


def _condition(rng: random.Random, url: str, subject: str | None,
               encounter: str | None = None) -> dict:
    code = rng.choice(ALL_CODES)
    r: dict = {
        "resourceType": "Condition",
        "code": {"coding": [{"system": SNOMED, "code": code, "display": code}]},
    }
    if subject:
        r["subject"] = {"reference": subject}
    if encounter:
        r["encounter"] = {"reference": encounter}
    return {"fullUrl": url, "resource": r}


def _synthea_noise(rng: random.Random, i: int) -> dict:
    """Fields outside the loader's schema, as real exports carry them."""
    return {
        "meta": {"profile": ["http://hl7.org/fhir/StructureDefinition/x"],
                 "lastUpdated": "2019-05-01T10:00:00Z"},
        "identifier": [{"system": "urn:ietf:rfc:3986", "value": f"urn:id:{i}:{rng.getrandbits(48):x}"}],
        "text": {"status": "generated", "div": "<div>" + "x" * rng.randint(20, 120) + "</div>"},
    }


def _summarize(bundle_id: str, entries: list, exp: Expected) -> None:
    """Fold one well-formed bundle into the expected outputs."""
    urls = {e["fullUrl"]: e["resource"]["resourceType"] for e in entries if e.get("fullUrl")}
    exp.bundles += 1
    exp.entries += len(entries)
    patient = None
    conds = []
    for e in entries:
        res = e["resource"]
        rtype = res["resourceType"]
        exp.collections[rtype.lower() + "s"] += 1
        for k in SCALAR_REFERENCES:
            if k in res:
                exp.references += 1
                exp.references_resolved += res[k]["reference"] in urls
        for p in res.get("performer", []):
            exp.references += 1
            exp.references_resolved += p["reference"] in urls
        if rtype == "Patient":
            patient = (e["fullUrl"], res)  # last Patient in entry order wins
        elif rtype == "Condition":
            code = res["code"]["coding"][0]["code"]
            conds.append(CODE_DIM.get(code, (0, 0)))
    if patient is not None:
        url, p = patient
        city = p["address"][0]["city"]
        ct, cs = CITY_FIPS.get(city, ("", ""))
        row = {
            "id": new_id(bundle_id, url),
            "gender": p.get("gender"),
            "agerange": 1,
            "age": _age(p["birthDate"]),
            "deceasedboolean": bool(p.get("deceasedDateTime")) or bool(p.get("deceasedBoolean")),
            "location": (ct, cs, city, p["address"][0]["postalCode"]),
        }
    else:
        row = {"id": "", "gender": None, "agerange": 0, "age": 0,
               "deceasedboolean": None, "location": ("", "", "", "")}
    row["uniqueconditions"] = sorted({c for c, _d in conds})
    row["uniquediseases"] = sorted({d for _c, d in conds})
    exp.rawstat.append(row)


def _small_bundle(rng: random.Random, i: int) -> list:
    pat = f"urn:uuid:pat-{i}"
    entries = []
    if rng.random() >= 0.01:  # a few bundles carry no Patient at all
        entries.append(_patient(rng, pat))
    if rng.random() < 0.01:  # ... and a few carry two; the last one wins
        entries.append(_patient(rng, f"urn:uuid:pat-{i}-b"))
    # a bundle with no entries at all gets no rawstat row from the loader
    # (the reference would store an empty one), so every bundle has >= 1
    n_cond = rng.choice((0, 0, 1, 1, 2, 3)) or (0 if entries else 1)
    for j in range(n_cond):
        entries.append(_condition(rng, f"urn:uuid:cond-{i}-{j}", pat))
    return entries


def _large_bundle(rng: random.Random, i: int, n_entries: int) -> list:
    """Synthea-sized bundle: Patient + Encounters + Observations +
    Conditions, each referencing the Patient and an Encounter in the same
    bundle, Observations with an array of performers (one intra-bundle,
    one external and therefore left verbatim)."""
    pat = f"urn:uuid:pat-{i}"
    prac = f"urn:uuid:prac-{i}"
    entries = [_patient(rng, pat)]
    entries[0]["resource"].update(_synthea_noise(rng, i))
    entries.append({"fullUrl": prac, "resource": {"resourceType": "Practitioner",
                                                  **_synthea_noise(rng, i)}})
    n_enc = max(1, n_entries // 10)
    encs = [f"urn:uuid:enc-{i}-{k}" for k in range(n_enc)]
    for k, url in enumerate(encs):
        r = {"resourceType": "Encounter", "subject": {"reference": pat},
             "serviceProvider": {"reference": "Organization/ext-1"},
             "class": {"code": "AMB"}, "period": {"start": "2010-01-01T00:00:00Z"}}
        r.update(_synthea_noise(rng, k))
        entries.append({"fullUrl": url, "resource": r})
    k = 0
    while len(entries) < n_entries:
        enc = rng.choice(encs)
        if rng.random() < 0.08:
            entries.append(_condition(rng, f"urn:uuid:cond-{i}-{k}", pat, enc))
        else:
            entries.append({"fullUrl": f"urn:uuid:obs-{i}-{k}", "resource": {
                "resourceType": "Observation",
                "subject": {"reference": pat},
                "encounter": {"reference": enc},
                "performer": [{"reference": prac}, {"reference": "Practitioner/ext-7"}],
                "status": "final",
                "code": {"coding": [{"system": LOINC, "code": f"{rng.randint(1000, 99999)}-{rng.randint(0, 9)}",
                                     "display": "Body measure"}]},
                "valueQuantity": {"value": round(rng.uniform(0, 200), 2), "unit": "kg"},
                "effectiveDateTime": "2011-02-03T04:05:06Z",
            }})
        k += 1
    return entries


def _write_bundle(path: str, entries: list) -> None:
    with open(path, "w") as f:
        json.dump({"resourceType": "Bundle", "type": "transaction", "entry": entries}, f)


def write_corpus(root: str, kind: str, n_bundles: int, seed: int,
                 n_corrupt: int = 3, prefix: str = "") -> Expected:
    """Write ``n_bundles`` bundle files (plus ``n_corrupt`` corrupt ones)
    under ``root`` and return what loading them must produce.

    ``kind`` is ``small`` (one patient, 0-3 conditions, ~0.6 KB) or
    ``large`` (Synthea-sized, heavy-tailed entry count with mean ~300).
    ``prefix`` is joined in front of every file name; the scan-root-relative
    bundle id is ``prefix + name``, so ``prefix`` may name a subdirectory."""
    rng = random.Random(f"{kind}:{seed}:{prefix}")
    exp = Expected()
    os.makedirs(root, exist_ok=True)
    sub = os.path.dirname(prefix)
    if sub:
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    corrupt_at = set(rng.sample(range(n_bundles + n_corrupt), n_corrupt))
    if kind == "large":
        # Pareto-tailed entry counts (most bundles 150-250 entries, a few in
        # the thousands: the straggler tasks), rescaled so every seed loads
        # the same total of ~LARGE_MEAN_ENTRIES per bundle
        raw = [rng.paretovariate(1.6) for _ in range(n_bundles)]
        scale = (LARGE_MEAN_ENTRIES - 120) * n_bundles / sum(raw)
        sizes = [min(3000, 120 + int(x * scale)) for x in raw]
    i = 0
    for slot in range(n_bundles + n_corrupt):
        name = f"{prefix}b{slot:06d}"
        path = os.path.join(root, name + ".json")
        if slot in corrupt_at:
            with open(path, "w") as f:
                f.write('{"resourceType": "Bundle", "entry": [{"fullUrl": "urn:uuid:x", ')
            exp.corrupt += 1
            continue
        if kind == "small":
            entries = _small_bundle(rng, i)
        else:
            entries = _large_bundle(rng, i, sizes[i])
        _write_bundle(path, entries)
        _summarize(name, entries, exp)
        i += 1
    return exp


def rawstat_key(r: dict) -> tuple:
    """Order-insensitive comparison key for one rawstat row."""
    return (r["id"], r["gender"], r["agerange"], r["age"], bool(r["deceasedboolean"]),
            tuple(r["location"]), tuple(r["uniqueconditions"]), tuple(r["uniquediseases"]))
