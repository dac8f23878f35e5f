"""Seeded synthetic Hemekonomi household database for the convert workload.

The database holds all ten registry tables. It starts from the checkDB1
golden rows (``schema.fixtures.GOLDEN_ROWS``) and adds a household's worth
of accounts, places, people, loans, budget lines and standing transfers,
plus ``n_transactions`` ledger rows spread over several years. Text carries
Swedish letters and quotes, nullable columns carry NULLs, and money is
exact to four decimals.

Expected account balances are computed here with integer arithmetic in
ten-thousandths, independently of ``plans.hhek``, under the ledger rule the
reference's checkDB1 uses: a deposit (``Insättning``, FrånKonto ``---``)
credits TillKonto and every other row debits FrånKonto.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import date, timedelta
from decimal import Decimal

import os

import pyarrow as pa
import pyarrow.parquet as pq

from hhek2sqlite_spark.schema.fixtures import DEPOSIT_SENTINEL, GOLDEN_ROWS, TYP_DEPOSIT
from hhek2sqlite_spark.schema.registry import COPY_ORDER, HHEK_TABLES

N_TRANSACTIONS = 50_000
FIRST_DAY = date(2016, 1, 1)
N_DAYS = 5 * 365

ACCOUNTS = ("Lönekonto", "Sparkonto", "Buffert", "Kreditkort", "Hushållskonto", "Räkningar")
PLACES = (
    "ICA Kvantum Årsta", "Coop Konsum", "Systembolaget", "Hemköp Söder",
    "Apoteket Hjärtat", "Kaffestugan \"Lilla Gården\"", "Åhlens City", "SJ Resor",
    "Vattenfall", "Telia", "Bokhandeln 'Ord & Bild'", "Pressbyrån",
    "Bensinstationen Ö-vik", "Tandläkare Öberg", "Gym & Hälsa", "Hyresvärden AB",
)
PERSONS = (("Åsa Öberg", 1975, "Kvinna"), ("Erik \"Bosse\" Ängström", 1972, "Man"))
WHAT = ("Livsmedel", "Hyra", "Kläder", "Nöje", "Resor", "Hälsa", "Räkningar", "Sparande")
TEXTS = (
    "Veckohandling", "Räksmörgås på stan", "Månadens \"stora\" inköp", "Julklappar åt barnen",
    "Tågbiljett Göteborg–Malmö", "Lånets ränta", "O'Learys med jobbet", "Öl & korv",
)


@dataclass(frozen=True)
class Household:
    """Generated rows per table (registry column order) and the
    generator's own expected balance per account name."""

    rows: dict[str, list[tuple]]
    expected_balances: dict[str, Decimal]

    def row_counts(self) -> dict[str, int]:
        return {name: len(self.rows[name]) for name in COPY_ORDER}


def money(ten_thousandths: int) -> Decimal:
    return Decimal(ten_thousandths).scaleb(-4)


def _amount(rng: random.Random, lo_kr: int, hi_kr: int) -> int:
    """Amount in ten-thousandths of a krona: whole öre mostly, a sub-öre
    fraction now and then (Jet Currency keeps four decimals)."""
    v = rng.randint(lo_kr * 100, hi_kr * 100) * 100
    if rng.random() < 0.1:
        v += rng.randint(1, 99)
    return v


def _day(rng: random.Random) -> str:
    return (FIRST_DAY + timedelta(days=rng.randrange(N_DAYS))).isoformat()


def _maybe(rng: random.Random, value, p_null: float = 0.15):
    return None if rng.random() < p_null else value


def generate(seed: int, n_transactions: int = N_TRANSACTIONS) -> Household:
    rng = random.Random(seed)
    rows = {name: list(GOLDEN_ROWS[name]) for name in COPY_ORDER}
    golden_konto = rows["Konton"][0][2]

    rows["Personer"] += [(4 + i, n, y, k) for i, (n, y, k) in enumerate(PERSONS)]
    people = [r[1] for r in rows["Personer"]]

    rows["Platser"] += [
        (2 + i, name, f"{rng.randint(100, 999)}-{rng.randint(1000, 9999)}", rng.choice(("BG", "PG")),
         _maybe(rng, rng.choice(ACCOUNTS), 0.5))
        for i, name in enumerate(PLACES)
    ]
    places = [r[1] for r in rows["Platser"]]

    start = {golden_konto: 0}
    for name in ACCOUNTS:
        start[name] = _amount(rng, 0, 20_000)
    accounts = list(start)

    rows["BetalKonton"] = [
        (1 + i, name, f"{rng.randint(1000, 9999)} {rng.randint(10, 99)} {rng.randint(10000, 99999)}",
         _maybe(rng, str(rng.randint(10**5, 10**6 - 1))), _maybe(rng, str(rng.randint(1000, 9999)), 0.5))
        for i, name in enumerate(ACCOUNTS[:3])
    ]

    loans = []
    for i, lender in enumerate(("Swedbank Hypotek", "Nordea Bolån", "CSN")):
        total = _amount(rng, 100_000, 2_000_000)
        loans.append(
            (1 + i, lender, f"Lån nr {i + 1}", f"{rng.randint(10**7, 10**8 - 1)}", money(total),
             _day(rng), _day(rng), _maybe(rng, _day(rng)), _maybe(rng, _day(rng)),
             money(total // 2), money(total // 4), money(total // 4),
             rng.choice((1.5, 2.25, 3.75)), rng.choice((0.5, 1.125, 4.0)), "M",
             money(_amount(rng, 100, 5000)), money(_amount(rng, 0, 3000)),
             money(_amount(rng, 0, 3000)), money(_amount(rng, 0, 100)),
             rng.choice(("J", "N")), rng.choice(people), rng.choice(ACCOUNTS), _maybe(rng, "1"),
             _maybe(rng, "Bundet tre år; \"villkorsändring\" " + "å" * rng.randint(0, 40)),
             "Ränta", "Amortering", "Övrigt")
        )
    rows["LÅN"] = loans

    rows["Budget"] = [
        (1 + i, typ, "J" if typ in ("Lön", "Barnbidrag") else "N", rng.choice((1, 3, 12)),
         _day(rng)[:7], *(money(_amount(rng, 0, 9000)) for _ in range(12)), _maybe(rng, rng.randint(1, 99)))
        for i, typ in enumerate(("Lön", "Barnbidrag", *WHAT))
    ]

    rows["Överföringar"] = [
        (1 + i, rng.choice(ACCOUNTS), rng.choice(ACCOUNTS), money(_amount(rng, 100, 10_000)), _day(rng),
         rng.choice(("Varje månad", "Varje kvartal", "En gång")), rng.choice(WHAT), rng.choice(people),
         _maybe(rng, rng.randint(1, 9999), 0.4), _maybe(rng, _day(rng)), rng.choice(("J", "N")))
        for i in range(24)
    ]

    rows["Betalningar"] = [
        (1 + i, rng.choice(ACCOUNTS), rng.choice(places), "Inköp", _day(rng), rng.choice(WHAT),
         rng.choice(people), money(_amount(rng, 10, 15_000)), _maybe(rng, rng.choice(TEXTS)),
         money(_amount(rng, 0, 500)), money(_amount(rng, 0, 500)), money(_amount(rng, 0, 500)),
         money(_amount(rng, 0, 100)), _maybe(rng, rng.randint(1, len(loans)), 0.7), _maybe(rng, "1", 0.8))
        for i in range(120)
    ]

    delta = dict.fromkeys(accounts, 0)
    for r in rows["Transaktioner"]:
        typ, belopp = r[3], int(r[7].scaleb(4))
        if typ == TYP_DEPOSIT:
            delta[r[2]] += belopp
        else:
            delta[r[1]] -= belopp
    lopnr = len(rows["Transaktioner"])
    for _ in range(n_transactions):
        lopnr += 1
        kind = rng.random()
        if kind < 0.12:
            typ, frm, till, belopp = TYP_DEPOSIT, DEPOSIT_SENTINEL, rng.choice(accounts), _amount(rng, 1_000, 25_000)
            delta[till] += belopp
        else:
            frm = rng.choice(accounts)
            if kind < 0.85:
                typ, till, belopp = "Inköp", rng.choice(places), _amount(rng, 5, 3_000)
            elif kind < 0.95:
                typ, till, belopp = "Överföring", rng.choice(accounts), _amount(rng, 100, 10_000)
            else:
                typ, till, belopp = "Uttag", "Kontant", _amount(rng, 100, 2_000)
            delta[frm] -= belopp
        rows["Transaktioner"].append(
            (lopnr, frm, till, typ, _day(rng), _maybe(rng, rng.choice(WHAT)), _maybe(rng, rng.choice(people)),
             money(belopp), None, rng.random() < 0.05, _maybe(rng, rng.choice(TEXTS), 0.3))
        )

    balances = {name: start[name] + delta[name] for name in accounts}
    konton = []
    for i, name in enumerate(accounts):
        if name == golden_konto:
            golden = rows["Konton"][0]
            konton.append((golden[0], golden[1], name, money(balances[name]), *golden[4:]))
            continue
        konton.append(
            (1 + i, f"{rng.randint(1000, 9999)}-{rng.randint(10**6, 10**7 - 1)}", name, money(balances[name]),
             money(start[name]), "2016-01", _maybe(rng, money(_amount(rng, 0, 50_000))), _maybe(rng, "2016-12"))
        )
    rows["Konton"] = konton
    for name in COPY_ORDER:
        width = len(HHEK_TABLES[name].columns)
        bad = [r for r in rows[name] if len(r) != width]
        if bad:
            raise AssertionError(f"{name}: generated row width {len(bad[0])} != {width}")
    return Household(rows, {name: money(v) for name, v in balances.items()})


_ARROW = {
    "LongType()": pa.int64(),
    "IntegerType()": pa.int32(),
    "ShortType()": pa.int16(),
    "FloatType()": pa.float32(),
    "BooleanType()": pa.bool_(),
    "StringType()": pa.string(),
    "DecimalType(19,4)": pa.decimal128(19, 4),
}


def arrow_schema(table: str) -> pa.Schema:
    return pa.schema(
        [pa.field(f.name, _ARROW[repr(f.dataType)], f.nullable) for f in HHEK_TABLES[table].spark_schema().fields]
    )


def write_parquet(household: Household, out_dir: str) -> None:
    """One parquet file per table at ``out_dir/<table>/part-0.parquet``,
    the layout ``sources.sqlite_io.convert`` reads as a parquet endpoint."""
    for name in COPY_ORDER:
        schema = arrow_schema(name)
        cols = list(zip(*household.rows[name])) or [() for _ in schema]
        table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        pq.write_table(table, os.path.join(out_dir, name, "part-0.parquet"))
