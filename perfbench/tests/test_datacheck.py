import numpy as np
import pyarrow as pa

import datacheck
import datagen


def test_ks_distance_and_critical_value():
    a = np.arange(100, dtype=float)
    d, crit = datacheck.ks(a, a.copy())
    assert d == 0.0
    assert crit == np.float64(1.95 * np.sqrt(2 / 100))
    d, _ = datacheck.ks(a, a + 50)
    assert d == 0.5


def test_a_generation_matches_another_seed_of_itself():
    gen = datagen.build_tables(0.002)
    other = datagen.build_tables(0.002, seed=7)
    failed = [c for c, ok, _ in datacheck.compare(gen, other) if not ok]
    assert failed == []


def test_a_shifted_column_and_a_changed_type_fail():
    gen = datagen.build_tables(0.002)
    ref = dict(gen)
    li = gen["lineitem"]
    i = li.column_names.index("l_discount")
    ref["lineitem"] = li.set_column(i, "l_discount", pa.array(li["l_discount"].to_numpy() + 0.02))
    cust = gen["customer"]
    j = cust.column_names.index("c_nationkey")
    ref["customer"] = cust.set_column(j, "c_nationkey", cust["c_nationkey"].cast(pa.int64()))
    failed = {c for c, ok, _ in datacheck.compare(gen, ref) if not ok}
    assert failed == {"lineitem.l_discount value", "customer schema"}
