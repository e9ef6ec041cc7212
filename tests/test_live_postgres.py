"""Live-PostgreSQL integration tests — the real-wire drive that closed
round 7's "What's missing #2" (carried since r4 as environment-blocked).

The sandbox ships PostgreSQL 15 server binaries (no JDBC jar, no
psycopg2), so the live path runs through a THROWAWAY cluster: initdb
into a temp dir, ``wal_level=logical``, unix-socket only, torn down
after the session.  Binary frames come from
``pg_logical_slot_peek_binary_changes(...)`` — the exact server call
the reference's peek path issues (adapter/postgres.rs:102-107,
pipes/postgres.rs:521-612) — so ``cdc/pgoutput.py`` is validated
against GENUINE server bytes rather than the repo's own wire-conformant
encoder, and ``cdc/copy_decoder.py`` against genuine ``COPY TO STDOUT``
output.  ``psql`` (rows via a row_to_json wrap) stands in for the
absent JDBC driver on ``JdbcPostgresSource``'s injectable seams, which
means the adapter's generated SQL (information_schema introspection,
reltuples estimate, publication/slot find-or-create) executes verbatim
against a real server instead of a mocked contract.

Every test skips cleanly when the server cannot start (no postgres
binaries, no root/postgres user, read-only /tmp).
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clockpipe_spark.cdc.copy_decoder import decode_copy_field, split_copy_line
from clockpipe_spark.cdc.pgoutput import decode_pgoutput, parse_pg_output
from clockpipe_spark.sources.livepg_cluster import LivePgCluster


@pytest.fixture(scope="module")
def pg():
    cluster = LivePgCluster()
    try:
        try:
            cluster.start()
        except RuntimeError as ex:
            pytest.skip(f"live postgres unavailable: {ex}")
        yield cluster
    finally:
        cluster.stop()


# ---------------------------------------------------------------------------
# pgoutput decoder against genuine server frames


def _writes(frames):
    """Decode, keeping only write records (skips drop as in decode)."""
    out = []
    for _, _, data in frames:
        rec = parse_pg_output(data)
        if rec is not None:
            out.append(rec)
    return out


def test_live_insert_types_and_nulls(pg):
    pg.sql(
        "CREATE TABLE live_t1 (id int PRIMARY KEY, name text, flag bool, "
        "price numeric(10,2), payload bytea)"
    )
    pg.sql("CREATE PUBLICATION live_pub1 FOR TABLE live_t1")
    pg.rows(
        "SELECT slot_name::text AS s FROM "
        "pg_create_logical_replication_slot('live_slot1', 'pgoutput')"
    )
    pg.sql(
        "INSERT INTO live_t1 VALUES "
        "(1, E'café 日本\\t\"tab\"', true, 19.99, '\\x00ff10'), "
        "(2, NULL, false, NULL, NULL)"
    )
    frames = pg.peek_frames("live_slot1", "live_pub1")
    # B(egin) / R(elation) / C(ommit) frames must be skip-decoded, not raise
    first_bytes = {chr(f[2][0]) for f in frames}
    assert {"B", "R", "C", "I"} <= first_bytes
    writes = _writes(frames)
    assert [w["msg_type"] for w in writes] == ["I", "I"]
    assert all(w["relation_id"] == pg.oid("live_t1") for w in writes)
    # postgres type-output renderings arrive as 't' text cells
    assert [t for _, t, _ in writes[0]["cells"]] == [
        "1", 'café 日本\t"tab"', "t", "19.99", "\\x00ff10"
    ]
    # SQL NULLs arrive as 'n' cells
    assert [k for k, _, _ in writes[1]["cells"]] == ["t", "n", "t", "n", "n"]


def test_live_update_delete_replica_identities(pg):
    pg.sql("CREATE TABLE live_full (id int PRIMARY KEY, v text)")
    pg.sql("ALTER TABLE live_full REPLICA IDENTITY FULL")
    pg.sql("CREATE TABLE live_dflt (id int PRIMARY KEY, v text)")
    pg.sql("CREATE PUBLICATION live_pub2 FOR TABLE live_full, live_dflt")
    pg.rows(
        "SELECT slot_name::text AS s FROM "
        "pg_create_logical_replication_slot('live_slot2', 'pgoutput')"
    )
    pg.sql("INSERT INTO live_full VALUES (1, 'a'); UPDATE live_full SET v='b'; "
           "DELETE FROM live_full")
    pg.sql("INSERT INTO live_dflt VALUES (2, 'x'); UPDATE live_dflt SET v='y'; "
           "DELETE FROM live_dflt")
    writes = _writes(pg.peek_frames("live_slot2", "live_pub2"))
    by_type = [(w["msg_type"], w["tuple_type"],
                [t for _, t, _ in w["cells"]],
                [t for _, t, _ in w["old_cells"]]) for w in writes]
    assert by_type == [
        # REPLICA IDENTITY FULL: update carries 'O' old tuple (decoder
        # normalizes tuple_type to the new 'N'); delete carries full row
        ("I", "N", ["1", "a"], []),
        ("U", "N", ["1", "b"], ["1", "a"]),
        ("D", "O", ["1", "b"], []),
        # default identity: no old tuple on update; delete is key-only 'K'
        ("I", "N", ["2", "x"], []),
        ("U", "N", ["2", "y"], []),
        ("D", "K", ["2", None], []),
    ]


def test_live_toast_both_resolution_paths(pg):
    """The two TOAST branches (pgoutput.rs:517-551), against real
    unchanged-TOAST 'u' cells: resolved from the old tuple when REPLICA
    IDENTITY FULL ships one, NULL (the reference's warn path) when the
    default identity ships none."""
    big = "SELECT string_agg(md5(g::text), '') FROM generate_series(1,400) g"
    pg.sql("CREATE TABLE live_toast_full (id int PRIMARY KEY, flag bool, big text)")
    pg.sql("ALTER TABLE live_toast_full REPLICA IDENTITY FULL")
    pg.sql("CREATE TABLE live_toast_dflt (id int PRIMARY KEY, flag bool, big text)")
    pg.sql("CREATE PUBLICATION live_pub3 FOR TABLE live_toast_full, live_toast_dflt")
    pg.rows(
        "SELECT slot_name::text AS s FROM "
        "pg_create_logical_replication_slot('live_slot3', 'pgoutput')"
    )
    pg.sql(f"INSERT INTO live_toast_full VALUES (1, true, ({big}))")
    pg.sql(f"INSERT INTO live_toast_dflt VALUES (2, true, ({big}))")
    # touch only `flag` so the TOASTed `big` arrives as an unchanged 'u'
    pg.sql("UPDATE live_toast_full SET flag = false WHERE id = 1")
    pg.sql("UPDATE live_toast_dflt SET flag = false WHERE id = 2")
    writes = _writes(pg.peek_frames("live_slot3", "live_pub3"))
    updates = [w for w in writes if w["msg_type"] == "U"]
    assert len(updates) == 2
    u_full = next(u for u in updates if u["cells"][0][1] == "1")
    u_dflt = next(u for u in updates if u["cells"][0][1] == "2")
    # RI FULL: 'u' resolved from the old tuple — full 12800-char value
    assert u_full["cells"][2][0] == "t"
    assert len(u_full["cells"][2][1]) == 400 * 32
    # default identity: no old tuple -> NULL (warn path)
    assert u_dflt["old_cells"] == []
    assert u_dflt["cells"][2] == ("n", None, None)


def test_live_pk_update_ships_old_key_tuple(pg):
    """A primary-key UPDATE is the one case where an update cannot be
    applied as a same-key upsert: postgres ships the OLD key as a 'K'
    tuple before the new row, and the decoder must surface both — the
    old key drives the delete half of the apply, the new tuple the
    insert half.  Pinned against a real PK change (the fixtures never
    exercised the 'K'-old-tuple-in-UPDATE arm; pgoutput.rs:369-410)."""
    pg.sql("CREATE TABLE live_pkup (id int PRIMARY KEY, v text)")
    pg.sql("CREATE PUBLICATION live_pub7 FOR TABLE live_pkup")
    pg.rows(
        "SELECT slot_name::text AS s FROM "
        "pg_create_logical_replication_slot('live_slot7', 'pgoutput')"
    )
    pg.sql("INSERT INTO live_pkup VALUES (1, 'a')")
    pg.sql("UPDATE live_pkup SET id = 2 WHERE id = 1")
    writes = _writes(pg.peek_frames("live_slot7", "live_pub7"))
    assert [w["msg_type"] for w in writes] == ["I", "U"]
    upd = writes[1]
    # old key tuple: key column populated, non-key column 'n'
    assert [(k, t) for k, t, _ in upd["old_cells"]] == [("t", "1"), ("n", None)]
    # new image carries the NEW key and the unchanged payload
    assert [t for _, t, _ in upd["cells"]] == ["2", "a"]


def test_live_truncate_multi_relation_decode(pg):
    pg.sql("CREATE TABLE live_tr_a (id int PRIMARY KEY)")
    pg.sql("CREATE TABLE live_tr_b (id int PRIMARY KEY)")
    pg.sql("CREATE PUBLICATION live_pub4 FOR TABLE live_tr_a, live_tr_b")
    pg.rows(
        "SELECT slot_name::text AS s FROM "
        "pg_create_logical_replication_slot('live_slot4', 'pgoutput')"
    )
    pg.sql("TRUNCATE live_tr_a, live_tr_b")
    writes = _writes(pg.peek_frames("live_slot4", "live_pub4"))
    assert [w["msg_type"] for w in writes] == ["T"]
    # a real multi-relation truncate is ONE frame carrying BOTH relids;
    # the decoder keeps them all (documented divergence from the
    # reference's first-relid quirk, pgoutput.rs:427-448) so every
    # routed table's state truncates
    assert sorted(writes[0]["relation_ids"]) == sorted(
        [pg.oid("live_tr_a"), pg.oid("live_tr_b")]
    )


def test_live_peek_cap_and_advance_offset_discipline(pg):
    """S3/T2 against the real server: peek doesn't consume (two peeks
    are byte-identical), the change cap is TRANSACTION-ATOMIC (postgres
    finishes the transaction that crosses ``upto_nchanges``, so a
    capped peek is a strict prefix of the full stream — the reference's
    65,536 cap has the same property on txn boundaries), and advancing
    the slot to a commit LSN consumes exactly the transactions at or
    before it — the peek-then-advance cursor discipline the pipe
    replays (SyncJob.sync_iteration)."""
    pg.sql("CREATE TABLE live_adv (id int PRIMARY KEY)")
    pg.sql("CREATE PUBLICATION live_pub6 FOR TABLE live_adv")
    pg.rows(
        "SELECT slot_name::text AS s FROM "
        "pg_create_logical_replication_slot('live_slot6', 'pgoutput')"
    )
    for i in range(1, 5):  # 4 separate autocommit transactions
        pg.sql(f"INSERT INTO live_adv VALUES ({i})")
    full = pg.peek_frames("live_slot6", "live_pub6")
    assert pg.peek_frames("live_slot6", "live_pub6") == full  # non-destructive
    capped = pg.peek_frames("live_slot6", "live_pub6", nchanges=5)
    assert capped == full[: len(capped)]  # prefix, never a re-order
    assert len(capped) < len(full)
    # the cap completed its in-flight transaction: last frame is a Commit
    assert chr(capped[-1][2][0]) == "C"
    # advance to the SECOND commit -> inserts 1 and 2 are consumed
    commits = [f for f in full if chr(f[2][0]) == "C"]
    pg.advance("live_slot6", commits[1][0])
    rest = _writes(pg.peek_frames("live_slot6", "live_pub6"))
    assert [(w["msg_type"], w["cells"][0][1]) for w in rest] == [
        ("I", "3"), ("I", "4"),
    ]


def test_live_frames_through_spark_decode(pg, spark):
    """The full mapInPandas decode stage over genuine frames — the
    exact (lsn, xid, data) PeekWalChangeResult shape."""
    pg.sql("CREATE TABLE live_sp (id int PRIMARY KEY, v text)")
    pg.sql("CREATE PUBLICATION live_pub5 FOR TABLE live_sp")
    pg.rows(
        "SELECT slot_name::text AS s FROM "
        "pg_create_logical_replication_slot('live_slot5', 'pgoutput')"
    )
    pg.sql("INSERT INTO live_sp VALUES (1, 'x'), (2, NULL); "
           "UPDATE live_sp SET v = 'y' WHERE id = 1; "
           "DELETE FROM live_sp WHERE id = 2")
    frames = pg.peek_frames("live_slot5", "live_pub5")
    df = spark.createDataFrame(frames, "lsn long, xid long, data binary")
    got = decode_pgoutput(df).orderBy("lsn").collect()
    assert [r["msg_type"] for r in got] == ["I", "I", "U", "D"]
    assert got[0]["cell_texts"] == ["1", "x"]
    assert got[1]["cell_kinds"] == ["t", "n"]
    assert got[2]["cell_texts"] == ["1", "y"]
    assert got[3]["tuple_type"] == "K"
    # lsn strictly increasing and positive — the ordering key T4 uses
    lsns = [r["lsn"] for r in got]
    assert lsns == sorted(lsns) and lsns[0] > 0


def test_live_copy_decoder_conformance(pg):
    """COPY TO STDOUT from the real server through the escape decoder:
    every escape class the reference's table covers (adapter/
    postgres.rs:373-471), produced by postgres itself."""
    pg.sql("CREATE TABLE live_copy (id int, v text)")
    pg.sql(
        "INSERT INTO live_copy VALUES "
        "(1, E'tab\\there'), (2, E'nl\\nthere'), (3, E'back\\\\slash'), "
        "(4, E'cr\\rhere'), (5, 'café 日本'), (6, NULL), "
        "(7, E'mix\\t\\n\\\\\\x0b\\x08end')"
    )
    expected = {
        1: "tab\there", 2: "nl\nthere", 3: "back\\slash", 4: "cr\rhere",
        5: "café 日本", 6: None, 7: "mix\t\n\\\x0b\x08end",
    }
    got = {}
    for line in pg.copy_bytes("live_copy").split(b"\n"):
        if line:
            vals = [decode_copy_field(f) for f in split_copy_line(line)]
            got[int(vals[0])] = vals[1]
    assert got == expected


def test_live_randomized_dml_replay(pg):
    """Seeded random DML storm (inserts, value updates, PK-changing
    updates, deletes, truncates — each its own transaction) against a
    default-replica-identity table; replaying the slot's genuine
    frames through the correct apply rule must reproduce the live
    table exactly.  The apply rule exercises the PK-change arm the
    fixed e2e tests don't: an UPDATE with an old-key tuple deletes the
    old key before upserting the new image."""
    import random

    rng = random.Random(20260814)
    pg.sql("CREATE TABLE live_rand (id int PRIMARY KEY, v text)")
    pg.sql("CREATE PUBLICATION live_pub10 FOR TABLE live_rand")
    pg.rows(
        "SELECT slot_name::text AS s FROM "
        "pg_create_logical_replication_slot('live_slot10', 'pgoutput')"
    )
    live_ids: set[int] = set()
    next_id = 1
    n_truncates = n_pk_moves = 0
    for _ in range(60):
        roll = rng.random()
        if roll < 0.40 or not live_ids:
            pg.sql(f"INSERT INTO live_rand VALUES ({next_id}, 'v{next_id}')")
            live_ids.add(next_id)
            next_id += 1
        elif roll < 0.70:
            tid = rng.choice(sorted(live_ids))
            pg.sql(f"UPDATE live_rand SET v = v || '+' WHERE id = {tid}")
        elif roll < 0.80:
            tid = rng.choice(sorted(live_ids))
            pg.sql(f"UPDATE live_rand SET id = {next_id} WHERE id = {tid}")
            live_ids.discard(tid)
            live_ids.add(next_id)
            next_id += 1
            n_pk_moves += 1
        elif roll < 0.95:
            tid = rng.choice(sorted(live_ids))
            pg.sql(f"DELETE FROM live_rand WHERE id = {tid}")
            live_ids.discard(tid)
        else:
            pg.sql("TRUNCATE live_rand")
            live_ids.clear()
            n_truncates += 1
    assert n_pk_moves and n_truncates  # the seed exercises both arms

    state: dict[str, str] = {}
    for w in _writes(pg.peek_frames("live_slot10", "live_pub10")):
        if w["msg_type"] == "T":
            state.clear()
        elif w["msg_type"] == "I":
            state[w["cells"][0][1]] = w["cells"][1][1]
        elif w["msg_type"] == "U":
            if w["old_cells"]:  # PK change: drop the old key first
                state.pop(w["old_cells"][0][1], None)
            state[w["cells"][0][1]] = w["cells"][1][1]
        elif w["msg_type"] == "D":
            state.pop(w["cells"][0][1], None)
    live = {str(r["id"]): r["v"]
            for r in pg.rows("SELECT id, v FROM live_rand")}
    assert state == live
    assert set(state) == {str(i) for i in live_ids}


def test_live_pg_array_literal_renderings(pg, spark):
    """PG array columns arrive in pgoutput as TEXT CELLS holding the
    array literal rendering; this pins the §2.8 quirk parsers
    (functions/casts.py pg_array_parse / pg_string_array_parse,
    mirroring pgoutput.rs:183-201) against literals the SERVER
    produced, including where the reference's naive split is and is
    not faithful:

    - integer arrays render unquoted -> pg_array_parse exact;
    - a NULL element renders as the bare token NULL -> the parser
      yields the string 'NULL' (the reference's behavior, pinned);
    - text arrays render quoted only PER-ELEMENT-AS-NEEDED; uniformly
      quoted elements (spaces force quoting) -> pg_string_array_parse
      exact; a single unquoted word does NOT match the quoted
      grammar — the reference's documented quirk (pgoutput.rs:560-596
      tests only the uniformly-quoted form), replicated for parity."""
    from pyspark.sql import functions as F

    from clockpipe_spark.functions.casts import (
        pg_array_parse,
        pg_string_array_parse,
    )

    pg.sql("CREATE TABLE live_arr (id int PRIMARY KEY, ints int[], words text[])")
    pg.sql("CREATE PUBLICATION live_pub8 FOR TABLE live_arr")
    pg.rows(
        "SELECT slot_name::text AS s FROM "
        "pg_create_logical_replication_slot('live_slot8', 'pgoutput')"
    )
    pg.sql(
        "INSERT INTO live_arr VALUES "
        "(1, ARRAY[1,2,3], ARRAY['hello world','a b']), "
        "(2, ARRAY[7,NULL], ARRAY['one']), "
        "(3, '{}', '{}')"
    )
    writes = _writes(pg.peek_frames("live_slot8", "live_pub8"))
    lits = {int(w["cells"][0][1]): (w["cells"][1][1], w["cells"][2][1])
            for w in writes}
    # the server's actual renderings — quoting is per-element-as-needed
    assert lits == {
        1: ("{1,2,3}", '{"hello world","a b"}'),
        2: ("{7,NULL}", "{one}"),
        3: ("{}", "{}"),
    }
    df = spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in lits.items()],
        "id int, ints string, words string",
    )
    got = {
        r["id"]: (r["pi"], r["pw"])
        for r in df.select(
            "id",
            pg_array_parse(F.col("ints")).alias("pi"),
            pg_string_array_parse(F.col("words")).alias("pw"),
        ).collect()
    }
    assert got[1] == (["1", "2", "3"], ["hello world", "a b"])
    # NULL element -> bare 'NULL' token (reference behavior, pinned)
    assert got[2][0] == ["7", "NULL"]
    # the documented quirk: an UNQUOTED single word doesn't match the
    # quoted grammar, so the braces survive — same output the
    # reference's split produces; pinned so a "fix" here is a
    # deliberate parity break, not an accident
    assert got[2][1] == ["{one}"]
    assert got[3] == ([], [])


def test_live_scalar_renderings_through_cast_matrix(pg, spark):
    """What the wire ACTUALLY carries for bool / numeric / timestamp /
    timestamptz columns, and that the P3 cast matrix lands them: bool
    renders 't'/'f' (the short form pg_bool_parse_sql keys on),
    timestamptz renders in the SESSION TimeZone — the cluster pins
    TimeZone=UTC at CREATE so the offset-less rendering the reference
    assumes ('+00' suffix stripped upstream) holds; a deployment whose
    server runs another zone must pin the slot session the same way
    (this test is that requirement, written down)."""
    from pyspark.sql import functions as F

    from clockpipe_spark.functions.casts import (
        pg_bool_parse_sql,
        pg_datetime_trunc,
        pg_to_int_sql,
        pg_to_real_sql,
    )

    pg.sql("ALTER DATABASE postgres SET timezone TO 'UTC'")
    pg.sql(
        "CREATE TABLE live_scalar (id int PRIMARY KEY, ok bool, "
        "price numeric(12,4), ts timestamp, tstz timestamptz)"
    )
    pg.sql("CREATE PUBLICATION live_pub9 FOR TABLE live_scalar")
    pg.rows(
        "SELECT slot_name::text AS s FROM "
        "pg_create_logical_replication_slot('live_slot9', 'pgoutput')"
    )
    pg.sql(
        "INSERT INTO live_scalar VALUES "
        "(1, true, 1234.5000, '2024-01-02 03:04:05.678901', "
        " '2024-01-02 03:04:05.678901+00'), "
        "(2, false, -0.0001, '1999-12-31 23:59:59', "
        " '1999-12-31 23:59:59+05')"
    )
    writes = _writes(pg.peek_frames("live_slot9", "live_pub9"))
    lits = {int(w["cells"][0][1]): [t for _, t, _ in w["cells"][1:]]
            for w in writes}
    # the server's actual wire renderings
    assert lits[1] == ["t", "1234.5000",
                      "2024-01-02 03:04:05.678901",
                      "2024-01-02 03:04:05.678901+00"]
    assert lits[2] == ["f", "-0.0001",
                      "1999-12-31 23:59:59",
                      "1999-12-31 18:59:59+00"]  # +05 resolved to UTC
    df = spark.createDataFrame(
        [(k, *v) for k, v in lits.items()],
        "id int, ok string, price string, ts string, tstz string",
    )
    got = {
        r["id"]: (r["b"], r["p"], str(r["t"]), str(r["tz"]), r["bad_int"])
        for r in df.select(
            "id",
            F.expr(pg_bool_parse_sql("ok")).alias("b"),
            F.expr(pg_to_real_sql("price")).alias("p"),
            pg_datetime_trunc(
                F.to_timestamp(F.col("ts"))
            ).alias("t"),
            # the reference strips the offset upstream with the session
            # pinned UTC; substring(1, 26) is that strip on '+00'
            pg_datetime_trunc(
                F.to_timestamp(F.substring(F.col("tstz"), 1, 26))
            ).alias("tz"),
            F.expr(pg_to_int_sql("price")).alias("bad_int"),
        ).collect()
    }
    assert got[1] == (True, 1234.5, "2024-01-02 03:04:05",
                      "2024-01-02 03:04:05", 0)
    assert got[2] == (False, -0.0001, "1999-12-31 23:59:59",
                      "1999-12-31 18:59:59", 0)


# ---------------------------------------------------------------------------
# JdbcPostgresSource seams against the live server: the adapter's
# generated SQL executes verbatim (no JDBC jar in the sandbox, so psql
# backs the reader/sql_runner seams — everything BUT the jar is real)


def _psql_source(spark, pg):
    return pg.adapter(spark)


def test_live_adapter_introspection(pg, spark):
    pg.sql(
        "CREATE TABLE live_intro (id int PRIMARY KEY, name text, "
        "price numeric(10,2), created timestamptz NOT NULL, blob bytea)"
    )
    src = _psql_source(spark, pg)
    cols = src.list_columns("live_intro")
    assert [(c.column_name, c.data_type, c.nullable, c.is_primary_key)
            for c in cols] == [
        ("id", "int4", False, True),
        ("name", "text", True, False),
        ("price", "numeric", True, False),
        ("created", "timestamptz", False, False),
        ("blob", "bytea", True, False),
    ]
    assert [c.column_index for c in cols] == [1, 2, 3, 4, 5]
    assert src.primary_key("live_intro") == ["id"]
    pg.sql("INSERT INTO live_intro SELECT g, 'n', 1.5, now(), NULL "
           "FROM generate_series(1, 500) g")
    pg.sql("ANALYZE live_intro")
    assert src.estimate_row_count("live_intro") == 500


def test_live_adapter_setup_publication_idempotent(pg, spark):
    pg.sql("CREATE TABLE live_setup_a (id int PRIMARY KEY)")
    pg.sql("CREATE TABLE live_setup_b (id int PRIMARY KEY)")
    src = _psql_source(spark, pg)
    issued = src.setup_publication(
        "live_pub_adapter", "live_slot_adapter", ["live_setup_a"]
    )
    assert issued == [
        "CREATE PUBLICATION live_pub_adapter FOR TABLE public.live_setup_a",
        "SELECT pg_create_logical_replication_slot('live_slot_adapter', 'pgoutput')",
    ]
    # the created objects are REAL: the slot peeks, the publication routes
    pg.sql("INSERT INTO live_setup_a VALUES (1)")
    writes = _writes(pg.peek_frames("live_slot_adapter", "live_pub_adapter"))
    assert [w["msg_type"] for w in writes] == ["I"]
    # second call: find-or-create finds everything, issues nothing
    assert src.setup_publication(
        "live_pub_adapter", "live_slot_adapter", ["live_setup_a"]
    ) == []
    # add-missing-table path issues exactly the ALTER
    issued = src.setup_publication(
        "live_pub_adapter", "live_slot_adapter",
        ["live_setup_a", "live_setup_b"],
    )
    assert issued == [
        "ALTER PUBLICATION live_pub_adapter ADD TABLE public.live_setup_b"
    ]


def test_live_micro_batch_loop_through_adapter(pg, spark):
    """The reference's whole sync loop (T1 micro-batches + T2
    peek-then-advance), against the real server, through the ADAPTER's
    product surface: setup_publication, then iterate
    peek_changes(limit) -> decode -> keep-last merge -> advance_slot
    until a peek returns nothing.  The capped iterations force multiple
    loop turns; the final replica must equal the live table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pg.sql("CREATE TABLE live_loop (id int PRIMARY KEY, v text)")
    pg.sql("INSERT INTO live_loop SELECT g, 'seed' || g FROM generate_series(1, 20) g")
    src = _psql_source(spark, pg)
    src.setup_publication("live_pub_loop", "live_slot_loop", ["live_loop"])
    state = {
        r["id"]: r["v"]
        for r in src.snapshot("live_loop").select("id", "v").collect()
    }
    # churn in MANY small transactions so the cap splits the stream
    for i in range(1, 11):
        pg.sql(f"UPDATE live_loop SET v = 'u{i}' WHERE id = {i}")
    for i in range(16, 21):
        pg.sql(f"DELETE FROM live_loop WHERE id = {i}")
    pg.sql("INSERT INTO live_loop SELECT g, 'new' || g FROM generate_series(21, 25) g")

    iterations = 0
    while True:
        frames = src.peek_changes("live_slot_loop", "live_pub_loop", limit=6)
        decoded = decode_pgoutput(frames).filter(
            F.col("msg_type").isin("I", "U", "D")
        )
        w = Window.partitionBy(F.col("cell_texts")[0]).orderBy(
            F.col("lsn").desc()
        )
        rows = (
            decoded.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.col("msg_type"),
                F.col("cell_texts")[0].cast("int").alias("id"),
                F.col("cell_texts")[1].alias("v"),
            )
            .collect()
        )
        last_lsn = frames.agg(F.max("lsn").alias("m")).first()["m"]
        if last_lsn is None:
            break  # drained: the loop's natural exit (T1)
        for r in rows:
            if r["msg_type"] == "D":
                state.pop(r["id"], None)
            else:
                state[r["id"]] = r["v"]
        src.advance_slot("live_slot_loop", last_lsn)  # T2: only after apply
        iterations += 1
        assert iterations < 30, "loop failed to drain"

    assert iterations >= 3  # the cap really split the stream
    live = {r["id"]: r["v"] for r in pg.rows("SELECT id, v FROM live_loop")}
    assert state == live
    assert len(live) == 20  # 20 - 5 deleted + 5 inserted


def test_live_end_to_end_snapshot_plus_cdc(pg, spark):
    """The reference's whole loop against a real server: snapshot the
    table, then decode the slot's genuine pgoutput frames, keep-last
    per key, and apply upsert/delete — the reconstructed replica must
    equal the live table exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pg.sql("CREATE TABLE live_e2e (id int PRIMARY KEY, v text, n int)")
    pg.sql("INSERT INTO live_e2e SELECT g, 'v' || g, g * 10 "
           "FROM generate_series(1, 50) g")
    src = _psql_source(spark, pg)
    src.setup_publication("live_pub_e2e", "live_slot_e2e", ["live_e2e"])
    snapshot = src.snapshot("live_e2e").select("id", "v", "n")

    # post-snapshot churn: updates, inserts, deletes, re-insert
    pg.sql("UPDATE live_e2e SET v = 'updated', n = n + 1 WHERE id <= 10")
    pg.sql("DELETE FROM live_e2e WHERE id BETWEEN 41 AND 50")
    pg.sql("INSERT INTO live_e2e SELECT g, 'new' || g, -g "
           "FROM generate_series(51, 60) g")
    pg.sql("DELETE FROM live_e2e WHERE id = 55")
    pg.sql("INSERT INTO live_e2e VALUES (55, 'reborn', 0)")

    frames = pg.peek_frames("live_slot_e2e", "live_pub_e2e")
    decoded = decode_pgoutput(
        spark.createDataFrame(frames, "lsn long, xid long, data binary")
    )
    changes = decoded.filter(F.col("msg_type").isin("I", "U", "D")).select(
        "lsn",
        "msg_type",
        F.col("cell_texts")[0].cast("int").alias("id"),
        F.col("cell_texts")[1].alias("v"),
        F.col("cell_texts")[2].cast("int").alias("n"),
    )
    # keep-last per PK by lsn (A1), then merge over the snapshot (K1/K2)
    w = Window.partitionBy("id").orderBy(F.col("lsn").desc())
    last = (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "lsn")
    )
    replica = (
        snapshot.join(last.select("id"), "id", "left_anti")
        .unionByName(
            last.filter(F.col("msg_type") != "D").drop("msg_type")
        )
    )
    live = {(r["id"], r["v"], r["n"])
            for r in pg.rows("SELECT id, v, n FROM live_e2e")}
    got = {(r["id"], r["v"], r["n"]) for r in replica.collect()}
    assert got == live
    assert len(got) == 50  # 50 - 10 deleted + 10 inserted


# ---------------------------------------------------------------------------
# The routed pipe on one table: the full IPipe lifecycle against the real server


def test_live_pipe_full_lifecycle(pg, spark, tmp_path):
    """initialize -> first_sync -> churn -> capped sync_loop: the
    replica must equal the live table after multiple peek-capped
    iterations, with during-snapshot changes absorbed idempotently by
    the WAL-stamped snapshot."""
    from clockpipe_spark.config import PipeConfig
    from clockpipe_spark.streaming.live_pipe import LivePostgresRoutedPipe

    pg.sql(
        "CREATE TABLE live_pipe_t (id int PRIMARY KEY, v text, "
        "ok bool, price numeric(10,2), at timestamp)"
    )
    pg.sql(
        "INSERT INTO live_pipe_t SELECT g, 'v' || g, g % 2 = 0, "
        "g * 1.25, '2024-01-01'::timestamp + g * interval '1 min' "
        "FROM generate_series(1, 40) g"
    )
    pipe = LivePostgresRoutedPipe(
        spark, pg.adapter(spark), ["live_pipe_t"], str(tmp_path),
        publication="live_pipe_pub", slot="live_pipe_slot",
        config=PipeConfig(peek_changes_limit=30),
    )
    assert pipe.keys == {"live_pipe_t": ["id"]}
    issued = pipe.initialize()
    assert len(issued) == 2  # publication + slot created
    assert pipe.initialize() == []  # idempotent
    assert pipe.first_sync()["live_pipe_t"] == 40
    assert pipe.first_sync() == {}  # K6 guard

    # churn in many single-statement transactions so the cap splits it
    for i in range(1, 21):
        pg.sql(f"UPDATE live_pipe_t SET v = 'u{i}', price = price + 1 "
               f"WHERE id = {i}")
    for i in range(36, 41):
        pg.sql(f"DELETE FROM live_pipe_t WHERE id = {i}")
    pg.sql("INSERT INTO live_pipe_t VALUES "
           "(41, 'n41', true, 9.99, '2030-01-01')")
    iters = pipe.sync_loop()
    assert iters >= 2  # the 30-change cap forced multiple iterations

    got = {
        (r["id"], r["v"], r["ok"], str(r["price"]), str(r["at"]))
        for r in pipe.replica("live_pipe_t").select(
            "id", "v", "ok",
            F.col("price").cast("decimal(10,2)").alias("price"), "at"
        ).collect()
    }
    live = {
        (r["id"], r["v"], r["ok"], str(r["price"]), str(r["at"]).replace("T", " "))
        for r in pg.rows(
            "SELECT id, v, ok, price::text AS price, at::text AS at "
            "FROM live_pipe_t"
        )
    }
    assert got == live
    assert len(got) == 36  # 40 - 5 deleted + 1 inserted
    # drained: another loop turn is a no-op
    assert pipe.sync_loop() == 0


def test_live_pipe_truncate_propagation(pg, spark, tmp_path):
    from clockpipe_spark.streaming.live_pipe import LivePostgresRoutedPipe

    pg.sql("CREATE TABLE live_pipe_tr (id int PRIMARY KEY, v text)")
    pg.sql("INSERT INTO live_pipe_tr VALUES (1, 'a'), (2, 'b')")
    pipe = LivePostgresRoutedPipe(
        spark, pg.adapter(spark), ["live_pipe_tr"], str(tmp_path),
        publication="live_pipe_pub2", slot="live_pipe_slot2",
    )
    pipe.initialize()
    pipe.first_sync()
    pg.sql("INSERT INTO live_pipe_tr VALUES (3, 'c')")
    pg.sql("TRUNCATE live_pipe_tr")
    pg.sql("INSERT INTO live_pipe_tr VALUES (9, 'reborn')")
    counters = pipe.sync_iteration()["live_pipe_tr"]
    assert counters.get("T") == 1
    got = [(r["id"], r["v"]) for r in pipe.replica("live_pipe_tr").collect()]
    assert got == [(9, "reborn")]  # only the post-truncate row survives


def test_live_pipe_crash_between_merge_and_advance_replays(pg, spark, tmp_path):
    """T2's at-least-once window, simulated for real: the first
    iteration merges but 'crashes' before advancing the slot, so the
    next iteration re-peeks and re-merges the SAME frames — the
    versioned keyed merge must absorb the duplicates and the slot must
    end fully advanced."""
    from clockpipe_spark.streaming.live_pipe import LivePostgresRoutedPipe

    pg.sql("CREATE TABLE live_pipe_cr (id int PRIMARY KEY, v text)")
    pg.sql("INSERT INTO live_pipe_cr VALUES (1, 'a')")
    src = pg.adapter(spark)
    pipe = LivePostgresRoutedPipe(
        spark, src, ["live_pipe_cr"], str(tmp_path),
        publication="live_pipe_pub3", slot="live_pipe_slot3",
    )
    pipe.initialize()
    pipe.first_sync()
    pg.sql("UPDATE live_pipe_cr SET v = 'b' WHERE id = 1")
    pg.sql("INSERT INTO live_pipe_cr VALUES (2, 'x')")

    real_advance = src.advance_slot
    calls = {"n": 0}

    def crashing_advance(slot, lsn):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash between merge and advance")
        return real_advance(slot, lsn)

    src.advance_slot = crashing_advance
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.sync_iteration()  # merged, NOT advanced
    counters = pipe.sync_iteration()["live_pipe_cr"]  # replays the same frames
    assert counters == {"U": 1, "I": 1}
    got = sorted((r["id"], r["v"]) for r in pipe.replica("live_pipe_cr").collect())
    assert got == [(1, "b"), (2, "x")]
    assert pipe.sync_iteration() == {}  # now drained — advance stuck


def test_live_routed_pipe_two_tables(pg, spark, tmp_path):
    """The reference's deployment shape live: TWO tables with different
    schemas through ONE publication + ONE slot, frames decoded once and
    routed by relation OID; a single-relation TRUNCATE hits only its
    route; both replicas equal their live tables after a capped
    multi-iteration drain."""
    from clockpipe_spark.config import PipeConfig
    from clockpipe_spark.streaming.live_pipe import LivePostgresRoutedPipe

    pg.sql("CREATE TABLE live_rt_a (id int PRIMARY KEY, v text)")
    pg.sql("CREATE TABLE live_rt_b (k int PRIMARY KEY, n int, ok bool)")
    pg.sql("INSERT INTO live_rt_a SELECT g, 'a' || g FROM generate_series(1, 10) g")
    pg.sql("INSERT INTO live_rt_b SELECT g, g * 100, g % 2 = 0 "
           "FROM generate_series(1, 10) g")
    pipe = LivePostgresRoutedPipe(
        spark, pg.adapter(spark), ["live_rt_a", "live_rt_b"], str(tmp_path),
        publication="live_rt_pub", slot="live_rt_slot",
        config=PipeConfig(peek_changes_limit=8),
    )
    pipe.initialize()
    assert pipe.first_sync() == {"live_rt_a": 10, "live_rt_b": 10}
    assert pipe.first_sync() == {}  # K6 guard per table

    # interleaved churn across both tables, each its own transaction
    for i in range(1, 6):
        pg.sql(f"UPDATE live_rt_a SET v = 'u{i}' WHERE id = {i}")
        pg.sql(f"UPDATE live_rt_b SET n = n + {i} WHERE k = {i}")
    pg.sql("TRUNCATE live_rt_a")  # single-relation: routes exactly
    pg.sql("INSERT INTO live_rt_a VALUES (99, 'reborn')")
    pg.sql("DELETE FROM live_rt_b WHERE k = 10")

    iters = pipe.sync_loop()
    assert iters >= 2  # the 8-change cap forced multiple turns

    got_a = sorted((r["id"], r["v"]) for r in pipe.replica("live_rt_a").collect())
    assert got_a == [(99, "reborn")]
    got_b = sorted(
        (r["k"], r["n"], r["ok"]) for r in pipe.replica("live_rt_b").collect()
    )
    live_b = sorted(
        (r["k"], r["n"], r["ok"])
        for r in pg.rows("SELECT k, n, ok FROM live_rt_b")
    )
    assert got_b == live_b and len(got_b) == 9
    assert pipe.sync_iteration() == {}  # drained


def test_live_pipe_add_column_evolution(pg, spark, tmp_path):
    """K5 live: ALTER TABLE ADD COLUMN mid-stream.  The pipe detects
    the wider frames, re-introspects, and the store merge NULL-fills
    history — rows written BEFORE the ALTER (including pre-ALTER frames
    inside the same sync batch) read NULL for the new column, matching
    the server for a no-default add."""
    from clockpipe_spark.streaming.live_pipe import LivePostgresRoutedPipe

    pg.sql("CREATE TABLE live_evo (id int PRIMARY KEY, v text)")
    pg.sql("INSERT INTO live_evo VALUES (1, 'a')")
    pipe = LivePostgresRoutedPipe(
        spark, pg.adapter(spark), ["live_evo"], str(tmp_path),
        publication="live_evo_pub", slot="live_evo_slot",
    )
    pipe.initialize()
    pipe.first_sync()
    # pre-ALTER and post-ALTER changes land in the SAME sync batch
    pg.sql("INSERT INTO live_evo VALUES (2, 'b')")
    pg.sql("ALTER TABLE live_evo ADD COLUMN score int")
    pg.sql("INSERT INTO live_evo VALUES (3, 'c', 30)")
    pg.sql("UPDATE live_evo SET score = 10 WHERE id = 1")
    counters = pipe.sync_iteration()["live_evo"]
    assert counters == {"I": 2, "U": 1}
    assert [c.column_name for c in pipe.columns["live_evo"]] == ["id", "v", "score"]
    got = sorted(
        (r["id"], r["v"], r["score"]) for r in pipe.replica("live_evo").collect()
    )
    live = sorted(
        (r["id"], r["v"], r["score"])
        for r in pg.rows("SELECT id, v, score FROM live_evo")
    )
    assert got == live == [(1, "a", 10), (2, "b", None), (3, "c", 30)]


def test_live_stray_relation_refuses_to_advance(pg, spark, tmp_path):
    """A pre-existing publication covering MORE tables than the pipe is
    configured with: the stray table's frames must RAISE, not be
    silently dropped and advanced past (the slot cannot rewind)."""
    from clockpipe_spark.streaming.live_pipe import LivePostgresRoutedPipe

    pg.sql("CREATE TABLE live_stray_a (id int PRIMARY KEY)")
    pg.sql("CREATE TABLE live_stray_b (id int PRIMARY KEY)")
    # seed a row: the psql seam cannot infer a zero-row SELECT *'s
    # schema (a real JDBC relation can — seam limitation, not pipe's)
    pg.sql("INSERT INTO live_stray_a VALUES (0)")
    pg.sql("CREATE PUBLICATION live_stray_pub FOR TABLE live_stray_a, live_stray_b")
    pipe = LivePostgresRoutedPipe(
        spark, pg.adapter(spark), ["live_stray_a"], str(tmp_path),
        publication="live_stray_pub", slot="live_stray_slot",
    )
    pipe.initialize()
    pipe.first_sync()
    pg.sql("INSERT INTO live_stray_b VALUES (1)")  # stray route
    with pytest.raises(RuntimeError, match="unconfigured relation oids"):
        pipe.sync_iteration()
    # nothing consumed: the stray frames are still peekable
    assert pg.peek_frames("live_stray_slot", "live_stray_pub")


def test_live_pk_changing_update_leaves_exactly_one_row(pg, spark, tmp_path):
    """Split-tombstone apply against the real server (VERDICT r8
    directive #6): an UPDATE that moves the primary key must delete the
    OLD key and upsert the NEW one — the replica equals the live table
    with exactly one row for the moved record.  (Documented divergence:
    the reference's ReplacingMergeTree sink leaves the stale old-key
    row behind forever.)"""
    from clockpipe_spark.streaming.live_pipe import LivePostgresRoutedPipe

    pg.sql("CREATE TABLE live_pkmove (id int PRIMARY KEY, v text)")
    pg.sql("INSERT INTO live_pkmove VALUES (1, 'a'), (5, 'e')")
    pipe = LivePostgresRoutedPipe(
        spark, pg.adapter(spark), ["live_pkmove"], str(tmp_path),
        publication="live_pkmove_pub", slot="live_pkmove_slot",
    )
    pipe.initialize()
    pipe.first_sync()
    # REPLICA IDENTITY DEFAULT: the wire sends the old key as a 'K'
    # tuple exactly because the identity key changed
    pg.sql("UPDATE live_pkmove SET id = 2, v = 'moved' WHERE id = 1")
    # and a same-batch re-insert of the vacated key must win over the
    # tombstone (higher LSN)
    pg.sql("INSERT INTO live_pkmove VALUES (1, 'reborn')")
    counters = pipe.sync_iteration()["live_pkmove"]
    assert counters == {"U": 1, "I": 1}
    got = sorted((r["id"], r["v"]) for r in pipe.replica("live_pkmove").collect())
    live = sorted(
        (r["id"], r["v"]) for r in pg.rows("SELECT id, v FROM live_pkmove")
    )
    assert got == live == [(1, "reborn"), (2, "moved"), (5, "e")]


def test_live_inflight_transaction_across_first_sync_converges(
    pg, spark, tmp_path
):
    """THE ADVICE-r8 HIGH race, reproduced against the real server: a
    transaction writes a row (WAL record LSN below any stamp first_sync
    could take) but commits only AFTER the snapshot read's MVCC
    snapshot — the row is invisible to the snapshot yet its replayed
    change carries the low record LSN.  Under the old WAL-stamp scheme
    the replay lost the keep-last merge forever (permanent silent
    staleness); with version-0 snapshot stamping the replay must win
    and the replica converges.

    An interactive psql holds the transaction open under explicit
    control, so the ordering is deterministic (no sleep races): INSERT
    executes -> backend goes 'idle in transaction' -> first_sync runs
    -> COMMIT -> sync_iteration."""
    import subprocess
    import time

    from clockpipe_spark.streaming.live_pipe import LivePostgresRoutedPipe

    pg.sql("CREATE TABLE live_race (id int PRIMARY KEY, v text)")
    pg.sql("INSERT INTO live_race VALUES (1, 'committed')")
    pipe = LivePostgresRoutedPipe(
        spark, pg.adapter(spark), ["live_race"], str(tmp_path),
        publication="live_race_pub", slot="live_race_slot",
    )
    pipe.initialize()

    proc = subprocess.Popen(
        pg.psql, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True,
    )
    try:
        proc.stdin.write(
            "BEGIN;\nINSERT INTO live_race VALUES (2, 'inflight');\n"
        )
        proc.stdin.flush()
        # the WAL record now exists; wait for the backend to sit idle
        # inside the open transaction before snapshotting
        for _ in range(100):
            n = pg.rows(
                "SELECT count(*) AS n FROM pg_stat_activity "
                "WHERE state = 'idle in transaction'"
            )[0]["n"]
            if n:
                break
            time.sleep(0.1)
        else:
            raise AssertionError("in-flight transaction never settled")

        assert pipe.first_sync()["live_race"] == 1  # MVCC: in-flight row invisible
        snap = {r["id"] for r in pipe.replica("live_race").collect()}
        assert snap == {1}, "precondition: the race window was real"

        proc.stdin.write("COMMIT;\n")
        proc.stdin.close()
        proc.wait(timeout=30)
    finally:
        if proc.poll() is None:
            proc.kill()

    counters = pipe.sync_iteration()["live_race"]
    assert counters == {"I": 1}
    got = sorted((r["id"], r["v"]) for r in pipe.replica("live_race").collect())
    assert got == [(1, "committed"), (2, "inflight")], (
        "replayed in-flight change must win the merge against the "
        "snapshot (version-0 stamping); losing it is permanent silent "
        "replica staleness"
    )


def test_live_bytea_snapshot_and_cdc_state_agree(pg, spark, tmp_path):
    """bytea through the psql seam arrives as its '\\x…' hex TEXT; the
    snapshot cast must unhex it exactly like the decoded-change path
    (_typed_cell), or snapshot state and CDC state silently disagree
    for the same column (ADVICE r8).  One row lands via the snapshot,
    one via CDC; both must equal the live bytes."""
    from clockpipe_spark.streaming.live_pipe import LivePostgresRoutedPipe

    pg.sql("CREATE TABLE live_bytea (id int PRIMARY KEY, blob bytea)")
    pg.sql(r"INSERT INTO live_bytea VALUES (1, '\x00ff7a'::bytea)")
    pipe = LivePostgresRoutedPipe(
        spark, pg.adapter(spark), ["live_bytea"], str(tmp_path),
        publication="live_bytea_pub", slot="live_bytea_slot",
    )
    pipe.initialize()
    pipe.first_sync()
    pg.sql(r"INSERT INTO live_bytea VALUES (2, '\x00ff7a'::bytea)")
    pg.sql(r"UPDATE live_bytea SET blob = '\xdeadbeef'::bytea WHERE id = 1")
    pipe.sync_iteration()
    got = {r["id"]: bytes(r["blob"]) for r in pipe.replica("live_bytea").collect()}
    assert got == {1: b"\xde\xad\xbe\xef", 2: b"\x00\xff\x7a"}


def test_live_routed_multi_relation_truncate(pg, spark, tmp_path):
    """A real 'TRUNCATE a, b' through the ROUTED pipe: one wire frame
    carries both relids and BOTH tables' stores must truncate
    (documented divergence from the reference's first-relid quirk,
    whose silent second-table divergence is permanent in this
    deployment shape — ADVICE r8)."""
    from clockpipe_spark.streaming.live_pipe import LivePostgresRoutedPipe

    pg.sql("CREATE TABLE live_mtr_a (id int PRIMARY KEY, v text)")
    pg.sql("CREATE TABLE live_mtr_b (k int PRIMARY KEY)")
    pg.sql("INSERT INTO live_mtr_a VALUES (1, 'a'), (2, 'b')")
    pg.sql("INSERT INTO live_mtr_b VALUES (10), (20)")
    pipe = LivePostgresRoutedPipe(
        spark, pg.adapter(spark), ["live_mtr_a", "live_mtr_b"],
        str(tmp_path), publication="live_mtr_pub", slot="live_mtr_slot",
    )
    pipe.initialize()
    assert pipe.first_sync() == {"live_mtr_a": 2, "live_mtr_b": 2}
    pg.sql("TRUNCATE live_mtr_a, live_mtr_b")
    pg.sql("INSERT INTO live_mtr_a VALUES (9, 'post')")
    routed = pipe.sync_iteration()
    assert routed["live_mtr_a"]["T"] == 1 and routed["live_mtr_b"]["T"] == 1
    got_a = [(r["id"], r["v"]) for r in pipe.replica("live_mtr_a").collect()]
    assert got_a == [(9, "post")]
    assert pipe.replica("live_mtr_b").count() == 0
