"""Seeded inputs of the live-dashboard workload and their expected results.

Nothing here imports Spark: the load generator and the tests use these
functions directly, and the worker mirrors ``feedback_fields`` as a Spark
column expression over the rate source's ``value``.  The age bins are the
reference dashboard's (app3/live_counts.py), written out here rather than
imported from the engine so the expected counts do not depend on the code
they check.
"""

from __future__ import annotations

import random
from collections import Counter

GENDERS = ["Hombre", "Mujer"]
OCCUPATIONS = ["estudiante", "programador", "medico", "jubilado", "artista", "ventas", "otros"]
AGE_LO, AGE_SPAN = 10, 61  # ages 10..70 reach every bin, "<18" and "56+" included
AGE_BINS = [
    (None, 18, "<18"), (18, 25, "18-24"), (25, 35, "25-34"), (35, 45, "35-44"),
    (45, 50, "45-49"), (50, 56, "50-55"), (56, None, "56+"),
]
# Multipliers of the per-value field hashes; the worker's Spark expression
# uses the same ones.
GENDER_MUL, OCC_MUL, AGE_MUL, SEED_MUL = 7, 13, 31, 17
N_FILMS = 5


def seed_key(seed: int) -> int:
    """The seed folded to a small offset so Spark's long arithmetic on
    ``value * mul + key`` cannot overflow."""
    return seed % 1_000_003


def feedback_fields(value: int, seed: int) -> tuple[str, str, int]:
    """(gender, occupation, age) of the feedback payload for rate ``value``."""
    k = seed_key(seed)
    gender = GENDERS[(value * GENDER_MUL + k) % len(GENDERS)]
    occupation = OCCUPATIONS[(value * OCC_MUL + k) % len(OCCUPATIONS)]
    age = AGE_LO + (value * AGE_MUL + k * SEED_MUL) % AGE_SPAN
    return gender, occupation, age


def age_bin(age: int) -> str:
    for lo, hi, label in AGE_BINS:
        if (lo is None or age >= lo) and (hi is None or age < hi):
            return label
    raise ValueError(f"age {age} falls in no bin")


def expected_counts(n: int, seed: int) -> dict[tuple[str, str], int]:
    """Group counts by (gender, age_bin) over rate values ``0..n-1``."""
    c: Counter = Counter()
    for v in range(n):
        gender, _, age = feedback_fields(v, seed)
        c[(gender, age_bin(age))] += 1
    return dict(c)


def recommend_ratings(i: int, seed: int, item_ids: int) -> list[tuple[int, int]]:
    """Seed ratings of the ``i``-th ``/recommend`` request: five distinct
    items out of ``0..item_ids-1`` with ratings 1..5."""
    rng = random.Random(seed * 1_000_003 + i)
    return [(item, rng.randint(1, 5)) for item in rng.sample(range(item_ids), 5)]


def submit_payload(i: int, seed: int) -> dict:
    """Body of the ``i``-th ``/submit`` request, in the reference's feedback
    shape, tagged with its index so the spool can be checked line by line."""
    rng = random.Random(seed * 1_000_033 + i)
    return {
        "id": i,
        "gender": rng.choice(GENDERS),
        "occupation": rng.choice(OCCUPATIONS),
        "age": rng.randint(AGE_LO, AGE_LO + AGE_SPAN - 1),
        "ratings": [{"filmId": rng.randint(1, N_FILMS), "rating": rng.randint(1, 5)}],
    }
