"""Seeded FHIR corpus generator: clinical ``notes`` plus the gold
``extracted`` records they were written from.

Follows the FIXTURES.md §1-2 generation rules: templated prose that
embeds every gold field, 10-20% nulls per optional branch, a small
shared practitioner pool (so the argmax question has a winner),
shared substances, varied timezone offsets and a few year-only birth
dates. The golden-question entities (the Rosenbaum family, Josef
Klein, Arla Fritsch, patient 45 and shellfish, ...) are planted so
all ten golden SQLs return rows.

Gold is what the note says, not what any extractor returns: the
generator is never tuned to the extractor's accuracy.
"""

from __future__ import annotations

import random

GIVEN_F = (
    "Lili Abbie Marinda Lindsay Gabrielle Claudie Jane Ann Rosa Elena "
    "Maria Grace Ivy Nora Clara Alma Hazel Iris Mae Opal Ruth Stella"
).split()
GIVEN_M = (
    "Gary Everette Tom Paul Victor Hugo Liam Noah Owen Felix Ezra Jude "
    "Milo Amos Silas Otto Carl Jonas Abel Rufus Cyrus Emil"
).split()
FAMILY = (
    "Brekke Veum Abshire Medhurst Doe Kuhn Hansen Batz Kassulke Torp "
    "Wisozk Bode Krajcik Lemke Davis Vela Ullrich Auer Bednar Schmitt "
    "Okuneva Runte Hickle Greenholt Ziemann Dach Wyman Stokes Boyle Koss"
).split()
PRACTITIONERS = (
    ("Josef", "Klein"), ("Arla", "Fritsch"), ("Cletus", "Paucek"),
    ("Ted", "Reilly"), ("Tena", "Davis"), ("Mica", "Lemke"),
    ("Sam", "Smith"), ("Ora", "Hegmann"), ("Basil", "Nolan"),
    ("Iva", "Kerluke"),
)
CITIES = (
    ("Boston", "Massachusetts", "02111"),
    ("East Longmeadow", "Massachusetts", "01028"),
    ("Worcester", "Massachusetts", "01602"),
    ("Springfield", "Massachusetts", "01103"),
    ("Providence", "Rhode Island", "02903"),
    ("Hartford", "Connecticut", "06103"),
    ("Albany", "New York", "12207"),
    ("Burlington", "Vermont", "05401"),
)
STREETS = "Main Elm Oak Maple Cedar Pine Lake Hill River Park".split()
SUBSTANCES = (
    ("shellfish", "food"), ("peanut", "food"), ("eggs", "food"),
    ("wheat", "food"), ("penicillin", "medication"),
    ("aspirin", "medication"), ("codeine", "medication"),
    ("mold", "environment"), ("pollen", "environment"),
    ("latex", "environment"), ("bee venom", "environment"),
)
VACCINES = (
    "seasonal influenza", "hepatitis B", "MMR", "COVID-19", "Td",
    "varicella", "pneumococcal",
)
MONTHS = (
    "January February March April May June July August September "
    "October November December"
).split()
MARITAL = (
    ("Married", "is married"), ("Divorced", "is divorced"),
    ("Widowed", "is widowed"), ("NeverMarried", "has never married"),
)
TZ = ("+01:00", "+02:00", "Z", "-05:00")

# the golden-question entities, planted at fixed record ids
ROSENBAUM_IDS = (7, 19, 33)
KLEIN_PATIENTS = {
    11: ("Lili", "Abbie", "Brekke"),
    12: ("Marinda", "Lindsay", "Veum"),
    13: ("Gary", "Everette", "Abshire"),
    14: ("Gabrielle", "Claudie", "Medhurst"),
}
FRITSCH_IDS = (21, 22, 23)
SHELLFISH_PATIENT = 45


def _prose_date(y: int, m: int, d: int) -> str:
    return f"{MONTHS[m - 1]} {d}, {y}"


def _iso(y: int, m: int, d: int) -> str:
    return f"{y:04d}-{m:02d}-{d:02d}"


def _record(rng: random.Random, rid: int) -> dict:
    female = rng.random() < 0.5
    given = [rng.choice(GIVEN_F if female else GIVEN_M)]
    if rng.random() < 0.4:
        given.append(rng.choice(GIVEN_F if female else GIVEN_M))
    family = rng.choice(FAMILY)
    prac = rng.choice(PRACTITIONERS[3:] if rng.random() < 0.8
                      else PRACTITIONERS)
    # Ted Reilly treats the most patients: a fixed extra share
    if rng.random() < 0.15:
        prac = ("Ted", "Reilly")
    city = rng.choice(CITIES)
    by = rng.choice(range(1940, 2016)) if rng.random() < 0.7 else (
        rng.choice(range(1990, 2001)))
    bm, bd = rng.randint(1, 12), rng.randint(1, 28)
    year_only = rng.random() < 0.03
    n_imm = 0 if rng.random() < 0.15 else rng.choice((1, 1, 2))
    imms = []
    for _ in range(n_imm):
        y = rng.choice(range(2015, 2025))
        imms.append((rng.choice(VACCINES), y, rng.randint(1, 12),
                     rng.randint(1, 28), rng.randint(8, 17),
                     rng.choice((0, 15, 30, 45)), rng.choice(TZ)))
    return {
        "rid": rid,
        "female": female,
        "given": given,
        "family": family,
        "prac": prac,
        "street": f"{rng.randint(1, 999)} {rng.choice(STREETS)} Street",
        "city": city,
        "birth": (by, bm, bd),
        "year_only": year_only,
        "gender": (("Female" if female else "Male")
                   if rng.random() < 0.85 else None),
        "phone": (f"555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}"
                  if rng.random() < 0.85 else None),
        "email": rng.random() < 0.15,
        "marital": rng.choice(MARITAL) if rng.random() < 0.85 else None,
        "language": (rng.choice(("English", "Spanish"))
                     if rng.random() < 0.85 else None),
        "allergy": rng.choice(SUBSTANCES) if rng.random() < 0.5 else None,
        "imms": imms,
        "has_prac": rng.random() < 0.88,
    }


def _plant(rec: dict) -> None:
    rid = rec["rid"]
    if rid in ROSENBAUM_IDS:
        rec["family"] = "Rosenbaum"
        rec["imms"] = [
            ("seasonal influenza", 2021, 10, 4, 9, 30, "+01:00"),
            ("hepatitis B", 2022, 3, 8, 14, 0, "Z"),
        ][: 2 if rid != ROSENBAUM_IDS[-1] else 1]
    if rid in KLEIN_PATIENTS:
        g1, g2, fam = KLEIN_PATIENTS[rid]
        rec["given"], rec["family"] = [g1, g2], fam
        rec["prac"], rec["has_prac"] = ("Josef", "Klein"), True
    if rid in FRITSCH_IDS:
        rec["prac"], rec["has_prac"] = ("Arla", "Fritsch"), True
    if rid == SHELLFISH_PATIENT:
        rec["allergy"] = ("shellfish", "food")
        rec["city"] = CITIES[1]
        rec["prac"], rec["has_prac"] = ("Cletus", "Paucek"), True


def _note(rec: dict, rng: random.Random) -> str:
    title = "Ms." if rec["female"] else "Mr."
    pron, poss = ("She", "her") if rec["female"] else ("He", "his")
    name = " ".join(rec["given"] + [rec["family"]])
    by, bm, bd = rec["birth"]
    born = (f"was born in {by}" if rec["year_only"]
            else f"was born on {_prose_date(by, bm, bd)}")
    city, state, zipc = rec["city"]
    parts = [
        f"{title} {name}, who {born}, resides at {poss} home at "
        f"{rec['street']}, {city}, {state}, {zipc}, United States."
    ]
    if rec["gender"]:
        parts.append(f"{pron} is {rec['gender'].lower()}.")
    if rec["marital"]:
        parts.append(f"{pron} {rec['marital'][1]}.")
    if rec["language"]:
        parts.append(
            f"{pron} identifies {rec['language']} as {poss} primary language."
        )
    if rec["phone"]:
        parts.append(f"{poss.capitalize()} home phone is {rec['phone']}.")
    if rec["email"]:
        parts.append(
            f"{pron} can be reached at "
            f"{rec['given'][0].lower()}.{rec['family'].lower()}@example.com."
        )
    if rec["allergy"]:
        parts.append(
            f"{pron} has a confirmed allergy towards {rec['allergy'][0]}."
        )
    if rec["has_prac"]:
        pg, pf = rec["prac"]
        parts.append(f"Dr. {pg} {pf} managed {poss} care.")
    for vac, y, m, d, hh, mm, _tz in rec["imms"]:
        parts.append(
            f"{pron} received a {vac} vaccine on {_prose_date(y, m, d)} "
            f"at {hh:02d}:{mm:02d}."
        )
    return " ".join(parts)


def _gold(rec: dict) -> dict:
    by, bm, bd = rec["birth"]
    city, state, zipc = rec["city"]
    imms = [
        {
            "traits": [vac.lower()],
            "status": "completed",
            "occurrenceDateTime": f"{_iso(y, m, d)}T{hh:02d}:{mm:02d}:00{tz}",
        }
        for vac, y, m, d, hh, mm, tz in rec["imms"]
    ]
    prac = None
    if rec["has_prac"]:
        pg, pf = rec["prac"]
        prac = {
            "name": {"family": pf, "given": [pg], "prefix": "Dr."},
            "address": None, "phone": None, "email": None,
        }
    return {
        "record_id": rec["rid"],
        "name": {
            "family": rec["family"],
            "given": list(rec["given"]),
            "prefix": "Ms." if rec["female"] else "Mr.",
        },
        "age": None,
        "gender": rec["gender"],
        "birthDate": str(by) if rec["year_only"] else _iso(by, bm, bd),
        "address": {
            "line": rec["street"], "city": city, "state": state,
            "postalCode": zipc, "country": "US",
        },
        "phone": rec["phone"],
        "email": (f"{rec['given'][0].lower()}.{rec['family'].lower()}"
                  "@example.com" if rec["email"] else None),
        "maritalStatus": rec["marital"][0] if rec["marital"] else None,
        "primaryLanguage": rec["language"],
        "allergy": (
            {"substance": [{
                "category": rec["allergy"][1],
                "name": rec["allergy"][0],
                "manifestation": None,
            }]}
            if rec["allergy"] else None
        ),
        "immunization": imms or None,
        "practitioner": prac,
    }


def generate(seed: int, n: int) -> tuple[list[tuple[int, str]], list[dict]]:
    """``n`` notes (record ids 1..n) and their gold records."""
    if n < max(SHELLFISH_PATIENT, *ROSENBAUM_IDS):
        raise ValueError(f"n={n} is too small to plant the golden entities")
    rng = random.Random(seed)
    notes, gold = [], []
    for rid in range(1, n + 1):
        rec = _record(rng, rid)
        _plant(rec)
        notes.append((rid, _note(rec, rng)))
        gold.append(_gold(rec))
    return notes, gold


def lookup_names(gold: list[dict]) -> list[str]:
    """Distinct patient full names, in record order — the pool the
    entity-lookup questions draw from."""
    seen: dict[str, None] = {}
    for g in gold:
        seen.setdefault(" ".join(g["name"]["given"] + [g["name"]["family"]]))
    return list(seen)
