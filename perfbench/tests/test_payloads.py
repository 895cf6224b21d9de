from collections import Counter

import payloads


def test_age_bins_are_half_open():
    assert payloads.age_bin(17) == "<18"
    assert payloads.age_bin(18) == "18-24"
    assert payloads.age_bin(24) == "18-24"
    assert payloads.age_bin(25) == "25-34"
    assert payloads.age_bin(49) == "45-49"
    assert payloads.age_bin(55) == "50-55"
    assert payloads.age_bin(56) == "56+"


def test_expected_counts_cover_every_value_once():
    counts = payloads.expected_counts(5000, seed=7)
    assert sum(counts.values()) == 5000
    assert {b for _, b in counts} == {label for _, _, label in payloads.AGE_BINS}
    assert payloads.expected_counts(0, seed=7) == {}


def test_expected_counts_are_a_prefix_sum():
    seed = 3
    by_value = Counter()
    for v in range(1234):
        g, _, age = payloads.feedback_fields(v, seed)
        by_value[(g, payloads.age_bin(age))] += 1
    assert payloads.expected_counts(1234, seed) == dict(by_value)


def test_seed_changes_payloads_but_not_their_domain():
    a = [payloads.feedback_fields(v, 1) for v in range(50)]
    b = [payloads.feedback_fields(v, 2) for v in range(50)]
    assert a != b
    for g, occ, age in a + b:
        assert g in payloads.GENDERS and occ in payloads.OCCUPATIONS
        assert payloads.AGE_LO <= age < payloads.AGE_LO + payloads.AGE_SPAN


def test_request_payloads_are_seeded():
    assert payloads.recommend_ratings(5, 1, 100) == payloads.recommend_ratings(5, 1, 100)
    assert payloads.recommend_ratings(5, 1, 100) != payloads.recommend_ratings(5, 2, 100)
    items = [i for i, _ in payloads.recommend_ratings(0, 9, 100)]
    assert len(set(items)) == 5 and all(0 <= i < 100 for i in items)
    assert payloads.submit_payload(4, 1)["id"] == 4
