from decimal import Decimal

import pytest

from hhek2sqlite_spark.schema.fixtures import DEPOSIT_SENTINEL, GOLDEN_ROWS, TYP_DEPOSIT
from hhek2sqlite_spark.schema.registry import COPY_ORDER, HHEK_TABLES
from hhek2sqlite_spark.sources.jet2_index import REFERENCE_INDEXES, text_sortkey
from perfbench import gen_hhek


def test_same_seed_same_rows_other_seed_other_rows():
    a, b, c = gen_hhek.generate(7, 500), gen_hhek.generate(7, 500), gen_hhek.generate(8, 500)
    assert a.rows == b.rows and a.expected_balances == b.expected_balances
    assert a.rows["Transaktioner"] != c.rows["Transaktioner"]


def test_all_ten_tables_match_the_registry_and_hold_rows():
    h = gen_hhek.generate(1, 200)
    assert list(h.rows) == list(COPY_ORDER)
    for name in COPY_ORDER:
        cols = HHEK_TABLES[name].columns
        assert h.rows[name], name
        for row in h.rows[name]:
            assert len(row) == len(cols)
            for value, col in zip(row, cols):
                assert value is not None or col.nullable, (name, col.name)
                if col.logical == "money" and value is not None:
                    assert isinstance(value, Decimal) and value.as_tuple().exponent == -4


def test_golden_rows_are_kept():
    h = gen_hhek.generate(3, 100)
    for name in ("DtbVer", "Platser", "Personer"):
        assert h.rows[name][: len(GOLDEN_ROWS[name])] == GOLDEN_ROWS[name]
    assert h.rows["Transaktioner"][:3] == GOLDEN_ROWS["Transaktioner"]
    golden_konto = GOLDEN_ROWS["Konton"][0]
    assert [r[2] for r in h.rows["Konton"]].count(golden_konto[2]) == 1


def test_text_is_swedish_with_quotes_and_nulls():
    h = gen_hhek.generate(5, 2000)
    texts = [v for rows in h.rows.values() for r in rows for v in r if isinstance(v, str)]
    assert any(ch in t for t in texts for ch in "åäöÅÄÖ")
    assert any('"' in t for t in texts) and any("'" in t for t in texts)
    text_col = [c.name for c in HHEK_TABLES["Transaktioner"].columns].index("Text")
    assert any(r[text_col] is None for r in h.rows["Transaktioner"])


def test_indexed_text_has_jet_collation_bytes():
    """Every value in a column the Jet writer indexes maps to a verified
    sort-key byte, so a failing Jet write is the writer's limit, not the data."""
    h = gen_hhek.generate(9, 3000)
    for table, specs in REFERENCE_INDEXES.items():
        names = [c.name for c in HHEK_TABLES[table].columns]
        for _, cols in specs:
            for col in cols:
                i = names.index(col)
                for row in h.rows[table]:
                    if isinstance(row[i], str):
                        text_sortkey(row[i])


def test_golden_only_balance_is_the_reference_hand_count():
    # checkDB1: Plånboken 0 + 1.10 - 0.10 - 0.10 = 0.90
    h = gen_hhek.generate(1, 0)
    assert h.expected_balances["Plånboken"] == Decimal("0.9000")


@pytest.mark.parametrize("seed", [2, 11])
def test_expected_balances_match_a_hand_count(seed):
    h = gen_hhek.generate(seed, 25)
    names = [c.name for c in HHEK_TABLES["Konton"].columns]
    start = {r[names.index("Benämning")]: r[names.index("StartSaldo")] for r in h.rows["Konton"]}
    hand = dict(start)
    for row in h.rows["Transaktioner"]:
        frm, till, typ, belopp = row[1], row[2], row[3], row[7]
        if typ == TYP_DEPOSIT:
            assert frm == DEPOSIT_SENTINEL
            hand[till] += belopp
        else:
            hand[frm] -= belopp
    assert hand == h.expected_balances
    saldo = {r[names.index("Benämning")]: r[names.index("Saldo")] for r in h.rows["Konton"]}
    assert saldo == h.expected_balances
