"""Round-10 Jet 2.0 upgrades (VERDICT r9 tasks 2 and 3):

- Jet 3/4/ACE version guard: a "Standard Jet DB" / "Standard ACE DB"
  header (the public magic the newer formats carry at offset 4, version
  byte at 0x14 — the formats the reference's Windows ODBC driver also
  reads, hhek2sqlite.go:1195 explicitly requests Engine Type=3 to AVOID
  them) must fail with a format-specific message, not a generic decode
  error.
- LVAL memo pages: LÅN.Anteckningar is LONGTEXT (reference
  dbinfo.txt:116, hhek2sqlite.go:766). Long values move to LVAL pages
  with a 12-byte pointer slot; short ones stay inline behind the same
  header. Writer->reader roundtrip is the only validation available
  (GOTEST1's LÅN is empty and no Jet consumer exists in this
  environment — see JET_VALIDATION.md).
- Long rows (>255B total): u8 var offsets stored mod 256 plus a jump
  table, the scheme the public mdbtools docs describe for Jet 3,
  carried to this Jet 2 trailer. Betalningar with all TEXT columns at
  declared width exceeds 255B, so the old loud cap was reachable by
  legal HHEK data.
"""

from __future__ import annotations

import struct
from decimal import Decimal

import pytest

from hhek2sqlite_spark.sources.jet2 import (
    HHEK_SCHEMAS,
    PAGE_SIZE,
    Jet2File,
    LVAL_TAG,
    TableSchema,
    write_jet2,
)


def _roundtrip(tmp_path, table, rows, name="t.mdb"):
    p = str(tmp_path / name)
    write_jet2(p, {table: (HHEK_SCHEMAS[table], rows)})
    return p, Jet2File(p).read_rows(table)


def _lan_row(anteckningar, lopnr=1):
    return {
        "TotLanebelopp": Decimal("1500000.0000"),
        "AktLaneskuld": Decimal("1234567.8900"),
        "RorligDel": Decimal("500000.0000"),
        "FastDel": Decimal("1000000.0000"),
        "FastRanta": struct.unpack("<f", struct.pack("<f", 3.25))[0],
        "RorligRanta": struct.unpack("<f", struct.pack("<f", 4.5))[0],
        "Ranta": Decimal("4062.5000"),
        "FastAmort": Decimal("2000.0000"),
        "RorligAmort": None,
        "OvrUtg": Decimal("0.0000"),
        "Löpnr": lopnr,
        "Langivare": "SBAB",
        "EgenBeskrivn": "Bolån",
        "LanNummer": "123-456-789",
        "StartDatum": "2020-01-01",
        "RegDatum": "2020-01-02",
        "RantJustDatum": "2025-01-01",
        "SlutBetDatum": "2060-01-01",
        "HurOfta": "M",
        "Rakning": "J",
        "Vem": "Åsa & Örjan",
        "FrånKonto": "Lönekonto",
        "Grey": "",
        "Anteckningar": anteckningar,
        "BudgetRanta": "4100",
        "BudgetAmort": "2000",
        "BudgetOvriga": "",
    }


# ---------------------------------------------------------------- guard


def _fake_newer_mdb(tmp_path, magic, version_byte):
    data = bytearray(4096)
    data[0:4] = b"\x00\x01\x00\x00"
    data[4:20] = magic
    data[0x14] = version_byte
    p = tmp_path / "newer.mdb"
    p.write_bytes(bytes(data))
    return str(p)


def test_jet4_header_rejected_by_name(tmp_path):
    p = _fake_newer_mdb(tmp_path, b"Standard Jet DB\x00", 0x01)
    with pytest.raises(ValueError, match=r"Jet 4 \(Access 2000-2003\)"):
        Jet2File(p)


def test_jet3_header_rejected_by_name(tmp_path):
    p = _fake_newer_mdb(tmp_path, b"Standard Jet DB\x00", 0x00)
    with pytest.raises(ValueError, match=r"Jet 3 \(Access 95/97\)"):
        Jet2File(p)


def test_ace_header_rejected_by_name(tmp_path):
    p = _fake_newer_mdb(tmp_path, b"Standard ACE DB\x00", 0x02)
    with pytest.raises(ValueError, match=r"ACE 12 \(Access 2007\)"):
        Jet2File(p)


def test_non_header_first_page_rejected(tmp_path):
    p = tmp_path / "junk.mdb"
    p.write_bytes(bytes(PAGE_SIZE))  # type byte 0x00, no magic
    with pytest.raises(ValueError, match="not a Jet 2.0 database header"):
        Jet2File(str(p))


# ---------------------------------------------------------------- memo


def test_short_memo_stays_inline_no_lval_pages(tmp_path):
    p, rows = _roundtrip(tmp_path, "LÅN", [_lan_row("kort anteckning")])
    assert rows[0]["Anteckningar"] == "kort anteckning"
    data = open(p, "rb").read()
    tags = {
        struct.unpack_from("<I", data, pg * PAGE_SIZE + 4)[0]
        for pg in range(len(data) // PAGE_SIZE)
        if data[pg * PAGE_SIZE] == 0x06
    }
    assert LVAL_TAG not in tags


def test_long_memo_roundtrips_via_lval_page(tmp_path):
    memo = "Lånet omförhandlades " + "åäö€ " * 250  # ~1.3 KB cp1252
    p, rows = _roundtrip(tmp_path, "LÅN", [_lan_row(memo)])
    assert rows[0]["Anteckningar"] == memo
    data = open(p, "rb").read()
    tags = [
        struct.unpack_from("<I", data, pg * PAGE_SIZE + 4)[0]
        for pg in range(len(data) // PAGE_SIZE)
        if data[pg * PAGE_SIZE] == 0x06
    ]
    assert LVAL_TAG in tags  # value genuinely left the row


def test_many_long_memos_share_and_spill_lval_pages(tmp_path):
    rows_in = [
        _lan_row(f"memo {i}: " + ("x%d " % i) * 120, lopnr=i) for i in range(1, 13)
    ]
    _, rows = _roundtrip(tmp_path, "LÅN", rows_in)
    assert [r["Anteckningar"] for r in rows] == [
        r["Anteckningar"] for r in rows_in
    ]


def test_memo_and_empty_memo_mix(tmp_path):
    rows_in = [
        _lan_row("a" * 500, lopnr=1),
        _lan_row("", lopnr=2),
        _lan_row(None, lopnr=3),
        _lan_row("inline kort", lopnr=4),
    ]
    _, rows = _roundtrip(tmp_path, "LÅN", rows_in)
    assert [r["Anteckningar"] for r in rows] == ["a" * 500, "", "", "inline kort"]


def test_multipage_memo_chain_roundtrips(tmp_path):
    """Memos beyond one LVAL page ride a chunk chain (u32 next pointer
    + data per chunk, header flags 0x00) — up to Access 2.0's 64 KB."""
    for n in (3000, 10_000, 64_000):
        memo = ("paragraf åäö-" * 400)[:n]
        _, rows = _roundtrip(tmp_path, "LÅN", [_lan_row(memo)], name=f"m{n}.mdb")
        assert rows[0]["Anteckningar"] == memo


def test_memo_chain_interleaves_with_singles(tmp_path):
    rows_in = [
        _lan_row("x" * 5000, lopnr=1),   # chain
        _lan_row("y" * 300, lopnr=2),    # single LVAL page
        _lan_row("kort", lopnr=3),       # inline
        _lan_row("z" * 2500, lopnr=4),   # chain
    ]
    _, rows = _roundtrip(tmp_path, "LÅN", rows_in)
    assert [r["Anteckningar"] for r in rows] == [
        "x" * 5000, "y" * 300, "kort", "z" * 2500
    ]


# ------------------------------------------------------------ long rows


def test_betalningar_maximal_text_row_roundtrips(tmp_path):
    """All TEXT columns at declared width (dbinfo.txt) — the row the old
    255-byte cap rejected. Exercises the jump-table long-row trailer."""
    row = {
        "Belopp": Decimal("-1234.5600"),
        "Löpnr": 1,
        "Ranta": Decimal("12.0000"),
        "FastAmort": Decimal("1.0000"),
        "RorligAmort": Decimal("2.0000"),
        "OvrUtg": Decimal("3.2100"),
        "LanLopnr": 7,
        "FrånKonto": "K" * 40,
        "TillPlats": "P" * 40,
        "Typ": "T" * 40,
        "Datum": "2021-03-31",
        "Vad": "V" * 40,
        "Vem": "W" * 50,
        "Text": "X" * 60,
        "Grey": "GG",
    }
    _, rows = _roundtrip(tmp_path, "Betalningar", [row])
    assert rows == [row]


def test_long_row_boundary_sweep(tmp_path):
    """Rows straddling every interesting total-length boundary (the
    254-258 flip into jump encoding and the 511-513 second window)
    roundtrip exactly — catches off-by-ones in the num_jumps fixed
    point and the mod-256 offsets."""
    schema = HHEK_SCHEMAS["Personer"]
    for n in [150, 200, 230, 240, 245, 248, 250, 252, 300, 400, 490, 500, 508, 700, 1000]:
        rows_in = [{"Löpnr": 1, "Namn": "n" * n, "Född": "1980", "Kön": "k" * 7}]
        p = str(tmp_path / f"b{n}.mdb")
        # indexes={}: these out-of-schema names (Namn is TEXT(50) in the
        # real layout) would exceed the 253-byte index-key cap
        write_jet2(p, {"Personer": (schema, rows_in)}, indexes={})
        assert Jet2File(p).read_rows("Personer") == rows_in


def test_long_row_multi_window_single_value(tmp_path):
    """One var value spanning >2 windows forces repeated jump entries
    at the same bound index."""
    schema = TableSchema([("Id", "long")], ["A", "B"])
    rows_in = [{"Id": 1, "A": "a" * 600, "B": "b" * 600}]
    p = str(tmp_path / "mw.mdb")
    write_jet2(p, {"T": (schema, rows_in)})
    f = Jet2File(p)
    got = [
        {"Id": r["Id"], "A": r["A"], "B": r["B"]}
        for r in [dict(x) for x in f.read_rows("T", schema)]
    ]
    assert got == rows_in


def test_mixed_short_and_long_rows_same_table(tmp_path):
    schema = HHEK_SCHEMAS["Personer"]
    rows_in = [
        {"Löpnr": i, "Namn": ("n" * (i * 37 % 400)) or "x", "Född": "0", "Kön": "K"}
        for i in range(1, 40)
    ]
    p = str(tmp_path / "mix.mdb")
    write_jet2(p, {"Personer": (schema, rows_in)}, indexes={})
    assert Jet2File(p).read_rows("Personer") == rows_in


def test_tfidf_no_cache_accumulation(spark, persistent_rdd_ids):
    """VERDICT r9 task 9: repeated tfidf_topk runs must not accumulate
    cached relations. Two layers: the tf relation is localCheckpoint'ed,
    so NOTHING enters the CacheManager (the r9 leak was a persist()
    pinning a CacheManager entry forever); and the checkpoint's block
    sets are freed DETERMINISTICALLY by release_local_checkpoints once a
    sweep is done with a result — the RDD id set returns to baseline
    after every iteration, no GC race. (ContextCleaner reclamation of a
    dropped result remains the fallback, but it is not assertable: a
    measured round-10 failure mode is a stale JVM thread-stack reference
    pinning the RDD graph past 60+ System.gc() calls.)"""
    from hhek2sqlite_spark.operators.text import tfidf_topk
    from hhek2sqlite_spark.operators.util import release_local_checkpoints

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta token{i % 7} epsilon zeta") for i in range(200)],
        ["doc_id", "text"],
    )
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_was_empty = cache_mgr.isEmpty()  # shared session: other tests may cache
    base = persistent_rdd_ids()
    for _ in range(3):
        out = tfidf_topk(docs, k=3)
        assert out.count() > 0
        if cache_was_empty:
            assert cache_mgr.isEmpty(), "localCheckpoint must not touch CacheManager"
        assert release_local_checkpoints(out) == 1
        leaked = persistent_rdd_ids() - base
        assert not leaked, f"checkpoint blocks survived release: {sorted(leaked)}"


def test_gotest1_still_reads_identically():
    """The new trailer logic is a no-op for real fixture rows."""
    from hhek2sqlite_spark.sources.jet2 import default_mdb_path

    mdb_path = default_mdb_path()
    if mdb_path is None:
        pytest.skip("GOTEST1.MDB fixture absent")
    f = Jet2File(mdb_path)
    assert f.row_count("Personer") == 3
    assert f.row_count("Transaktioner") == 3
    konton = f.read_rows("Konton")
    assert any(r["Saldo"] == Decimal("0.9000") for r in konton)
    assert f.row_count("Budget") == 34


# ------------------------------------------- round-10 corpus operators


def test_bigram_repetition_values(spark):
    from hhek2sqlite_spark.operators.text import bigram_repetition

    docs = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham end"),   # "spam ham" x3 of 6
            (2, "a b c d e"),                         # all unique -> first lex
            (3, "x x x x"),                           # "x x" x3 of 3
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in bigram_repetition(docs).collect()}
    assert got[1]["top_bigram"] == "spam ham"
    assert got[1]["top_count"] == 3 and got[1]["n_bigrams"] == 6
    assert got[1]["rep_frac_e6"] == 500000
    assert got[2]["top_bigram"] == "a b" and got[2]["top_count"] == 1
    assert got[3]["rep_frac_e6"] == 1000000


def test_boilerplate_shingles_values(spark):
    from hhek2sqlite_spark.operators.text import boilerplate_shingles

    # "words the same" and "the same footer" both appear in 3 docs;
    # max_df=2 flags them (2 of doc 1's 4 distinct shingles)
    docs = spark.createDataFrame(
        [
            (1, "unique alpha words the same footer"),
            (2, "different beta words the same footer"),
            (3, "other gamma words the same footer"),
            (4, "nothing shared here at all friend"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in boilerplate_shingles(docs, shingle_n=3, max_df=2).collect()
    }
    assert got[1]["n_boilerplate"] == 2 and got[1]["n_shingles"] == 4
    assert got[4]["n_boilerplate"] == 0
    assert got[1]["bp_frac_e6"] == 500000


def test_temperature_sample_targets_and_flattening(spark):
    from hhek2sqlite_spark.operators.pipeline import temperature_sample

    docs = spark.createDataFrame(
        [(i, "big " + f"doc {i}", "en") for i in range(100)]
        + [(1000 + i, "small " + f"doc {i}", "fr") for i in range(4)],
        ["doc_id", "text", "lang"],
    )
    out = temperature_sample(docs, boost=16).groupBy("lang").count().collect()
    got = {r["lang"]: r["count"] for r in out}
    # en: ceil(sqrt(16*100)) = 40 of 100 (downsampled); fr: target
    # ceil(sqrt(64)) = 8 > 4 -> keep all 4 (flattening: en 25x fr in,
    # 10x fr out)
    assert got == {"en": 40, "fr": 4}


def test_temperature_sample_two_pass_bit_exact(spark):
    from hhek2sqlite_spark.operators.pipeline import temperature_sample

    docs = spark.createDataFrame(
        [(i, f"text number {i} with words", ["en", "de", "fr"][i % 3])
         for i in range(300)],
        ["doc_id", "text", "lang"],
    )
    one = {tuple(r) for r in temperature_sample(docs, boost=8).collect()}
    two = {
        tuple(r)
        for r in temperature_sample(docs, boost=8, two_pass=True).collect()
    }
    assert one == two and len(one) > 0


def test_release_local_checkpoints_noop_and_count(spark):
    """Contract: plans without LogicalRDD release nothing (safe on any
    DataFrame); a checkpointed plan releases exactly its one block set,
    deduped even when the relation appears multiple times in the tree."""
    from hhek2sqlite_spark.operators.util import release_local_checkpoints

    plain = spark.range(10).selectExpr("id", "id * 2 AS x")
    assert release_local_checkpoints(plain) == 0

    ck = plain.localCheckpoint(eager=True)
    joined = ck.join(ck.groupBy("x").count(), "x")  # same relation twice
    assert joined.count() > 0
    assert release_local_checkpoints(joined) == 1
