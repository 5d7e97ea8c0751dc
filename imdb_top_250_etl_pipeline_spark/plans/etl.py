"""ETL-surface queries — reference parity (SURVEY §2.1 S5/S6, §2.8, §2.9).

Each query runs one stage of the reference pipeline (extraction →
normalization → surrogate keys → bridge tables → upsert/insert-ignore)
over the deterministic raw fixtures in etl_fixtures.py, with a DuckDB
oracle twin built from the same CTE chain.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.etl import (
    build_bridge,
    extract_movies,
    insert_ignore,
    normalize_people,
    upsert,
    with_surrogate_key,
)
from ..operators.pinning import eager_pin
from ..sources import load
from .etl_fixtures import details_raw, movies_raw, with_etl_ctes
from .registry import register
from .relational import _physical_plan


def _movies_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The normalized movies table incl. F9's last_updated
    (webscraper-postgres.py:123: TIMESTAMP DEFAULT CURRENT_TIMESTAMP).
    Oracle-facing queries drop the wall-clock column; a unit test pins
    its presence and non-nullness."""
    clean = extract_movies(movies_raw(spark, sf_dir))
    keyed = with_surrogate_key(
        clean.where(F.col("details_url").isNotNull()), "movie_id", ["details_url"]
    )
    return keyed.withColumn("last_updated", F.current_timestamp())


def _etl_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The reference pipeline's five output tables, by table name.

    The two shared subplans are materialized once: movies feeds four of
    the five tables and people feeds four — without this each consumer
    recomputes the window/explode work (AQE exchange reuse catches only
    some); persist() on a cluster, eager localCheckpoint locally.
    """
    d = details_raw(spark, sf_dir)
    movies = eager_pin(_movies_table(spark, sf_dir))
    people = eager_pin(normalize_people(d))
    return {
        "movies": movies,
        "people": people,
        "movie_director": build_bridge(d, movies, people, "director"),
        "movie_writer": build_bridge(d, movies, people, "writers"),
        "movie_star": build_bridge(d, movies, people, "stars"),
    }


@register(
    "etl_extract_movies",
    oracle=with_etl_ctes("SELECT * FROM movies_clean ORDER BY description"),
    doc="P1/F1-F8: the full listing-page extraction-projection — split-index "
    "rank/title, NBSP split, paren strip, URL concat, try_cast numerics; "
    "every parse failure → NULL (reference webscraper-postgres.py:36-70). "
    "Pure narrow expressions: zero shuffles at any scale.",
)
def etl_extract_movies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_movies(movies_raw(spark, sf_dir)).orderBy("description")


@register(
    "etl_merge_listing_details",
    oracle=with_etl_ctes(
        """
        SELECT m.description, m.rank, m.title, d.director,
               CAST(len(d.writers) AS INT) AS n_writers,
               CAST(len(d.stars) AS INT) AS n_stars
        FROM movies_clean m
        LEFT JOIN details_raw d ON m.description = d.description
        ORDER BY m.description
        """
    ),
    doc="J1: the reference's single merge (webscraper-postgres.py:101) — "
    "left equi-join of listing and detail extracts on description.",
)
def etl_merge_listing_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = extract_movies(movies_raw(spark, sf_dir))
    d = details_raw(spark, sf_dir)
    return (
        m.join(d, "description", "left")
        .select(
            "description",
            "rank",
            "title",
            "director",
            # size() returns -1 on NULL input (spark.sql.legacy.sizeOfNull);
            # guard to real SQL NULL
            F.when(F.col("writers").isNull(), F.lit(None))
            .otherwise(F.size("writers"))
            .cast("int")
            .alias("n_writers"),
            F.when(F.col("stars").isNull(), F.lit(None))
            .otherwise(F.size("stars"))
            .cast("int")
            .alias("n_stars"),
        )
        .orderBy("description")
    )


@register(
    "etl_normalize_people",
    oracle=with_etl_ctes("SELECT * FROM people ORDER BY person_id"),
    doc="A1+E1+SERIAL: distinct union of director/writers/stars → "
    "deterministic row_number surrogate key (reference set(chain(...)) + "
    "Postgres SERIAL, webscraper-postgres.py:147-161).",
)
def etl_normalize_people(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_people(details_raw(spark, sf_dir)).orderBy("person_id")


@register(
    "etl_movies_surrogate_keys",
    oracle=with_etl_ctes("SELECT * FROM movies ORDER BY movie_id"),
    doc="SERIAL for the movies table: row_number over the stable unique key "
    "details_url (reference relies on Postgres SERIAL + UNIQUE, "
    "webscraper-postgres.py:112,122).",
)
def etl_movies_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _movies_table(spark, sf_dir).drop("last_updated").orderBy("movie_id")


@register(
    "etl_bridge_star",
    oracle=with_etl_ctes(
        """
        SELECT DISTINCT m.movie_id, p.person_id
        FROM details_raw d
        JOIN movies m ON m.description = d.description
        JOIN people p ON p.name IN (SELECT unnest(d.stars))
        WHERE d.stars IS NOT NULL
        ORDER BY movie_id, person_id
        """
    ),
    doc="E2+J3: unnest stars keeping the movie key, broadcast-join the "
    "people dim, dedup the composite PK pair (reference loops, "
    "webscraper-postgres.py:274-285).",
)
def etl_bridge_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = details_raw(spark, sf_dir)
    movies = _movies_table(spark, sf_dir)
    people = normalize_people(d)
    return build_bridge(d, movies, people, "stars").orderBy("movie_id", "person_id")


@register(
    "etl_bridge_director",
    oracle=with_etl_ctes(
        """
        SELECT DISTINCT m.movie_id, p.person_id
        FROM details_raw d
        JOIN movies m ON m.description = d.description
        JOIN people p ON p.name = d.director
        WHERE d.director IS NOT NULL
        ORDER BY movie_id, person_id
        """
    ),
    doc="E3: the scalar director column lifted to a 1-element relation "
    "(reference webscraper-postgres.py:248-259).",
)
def etl_bridge_director(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = details_raw(spark, sf_dir)
    movies = _movies_table(spark, sf_dir)
    people = normalize_people(d)
    return build_bridge(d, movies, people, "director").orderBy("movie_id", "person_id")


@register(
    "etl_bridge_writer",
    oracle=with_etl_ctes(
        """
        SELECT DISTINCT m.movie_id, p.person_id
        FROM details_raw d
        JOIN movies m ON m.description = d.description
        JOIN people p ON p.name IN (SELECT unnest(d.writers))
        WHERE d.writers IS NOT NULL
        ORDER BY movie_id, person_id
        """
    ),
    doc="E2+J3: the third bridge table (movie_writer — reference "
    "webscraper-postgres.py:134-138,261-272), same explode→join→dedup "
    "shape as etl_bridge_star.",
)
def etl_bridge_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = details_raw(spark, sf_dir)
    movies = _movies_table(spark, sf_dir)
    people = normalize_people(d)
    return build_bridge(d, movies, people, "writers").orderBy("movie_id", "person_id")


_SINK_COLS = "c_custkey, c_name, c_acctbal, c_mktsegment, ok"


def _count_parquet_files(path: str) -> int:
    import os

    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


@register(
    "sink_parquet_roundtrip",
    oracle=(
        "SELECT 'roundtrip' AS part, c_custkey, c_name, c_acctbal, "
        "c_mktsegment, true AS ok FROM customer "
        "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')"
        "\nUNION ALL\n"
        "SELECT 'sorted' AS part, c_custkey, c_name, c_acctbal, "
        "c_mktsegment, true AS ok FROM customer WHERE c_custkey % 7 = 0"
        "\nUNION ALL\n"
        "SELECT 'compact' AS part, c_custkey, c_name, c_acctbal, "
        "c_mktsegment, true AS ok FROM customer WHERE c_custkey % 3 = 0"
        "\nUNION ALL\n"
        "SELECT 'versioned' AS part, c_custkey, c_name, c_acctbal, "
        "c_mktsegment, true AS ok FROM customer "
        "WHERE c_mktsegment = 'BUILDING'"
        "\nUNION ALL\n"
        "SELECT 'csv' AS part, c_custkey, c_name, c_acctbal, "
        "c_mktsegment, true AS ok FROM customer WHERE c_custkey % 5 = 0"
        "\nUNION ALL\n"
        "SELECT 'json' AS part, c_custkey, c_name, c_acctbal, "
        "c_mktsegment, true AS ok FROM customer WHERE c_custkey % 5 = 1"
        "\nUNION ALL\n"
        "SELECT 'orc' AS part, c_custkey, c_name, c_acctbal, "
        "c_mktsegment, true AS ok FROM customer WHERE c_custkey % 5 = 2"
        "\nUNION ALL\n"
        "SELECT 'xml' AS part, c_custkey, c_name, c_acctbal, "
        "c_mktsegment, true AS ok FROM customer WHERE c_custkey % 5 = 3"
        "\nUNION ALL\n"
        "SELECT 'txn' AS part, c_custkey, c_name, "
        "CASE WHEN c_custkey <= 100 THEN 999.0 "
        "WHEN c_custkey % 2 = 0 AND c_custkey <= 200 "
        "THEN c_acctbal + 500.0 ELSE c_acctbal END AS c_acctbal, "
        "c_mktsegment, true AS ok FROM customer "
        "WHERE c_mktsegment = 'AUTOMOBILE' "
        "AND (c_custkey > 100 OR c_custkey % 2 = 0)"
    ),
    doc="The S4/S4+/S5+ sink layer as one oracle-checked battery, each "
    "branch a full write→read-back round-trip through a disposable temp "
    "dir (parquet round-trips doubles bit-exactly, so every oracle is "
    "the plain source query): partitioned write + partition-pruned scan "
    "(part=roundtrip), sortWithinPartitions layout write "
    "(part=sorted — row-group stats become selective on the sort key), "
    "small-file compaction (part=compact — written with "
    "maxRecordsPerFile=100 then compacted; ok pins that the file count "
    "strictly shrank AND content survived, upgrading the maintenance "
    "job from test-only to driver-checked), and versioned snapshots "
    "with time travel (part=versioned — v1 written, v2 written over it, "
    "the V1 content read back by explicit version; ok pins that the "
    "committed pointer advanced to v2 while v1 stayed readable), plus "
    "the transaction-log table with real MERGE (part=txn — "
    "sources/txn.py create→merge→time-travel; ok pins that untouched "
    "range-partitioned files stayed byte-identical across the commit, "
    "v0 time travel still reads the pre-merge table, the merged "
    "snapshot equals the pure upsert, and — round 9 — the change data "
    "feed (txn_changes: per-commit I/U/D from the commit's NET "
    "rewritten files only) applied onto v0 reconstructs the merged "
    "table exactly, plus OPTIMIZE small-file compaction whose commit "
    "leaves content identical and contributes ZERO change-feed rows — "
    "compaction invisible to incremental consumers, plus replaceWhere "
    "range overwrite (txn_replace_where): the [0,100] key range "
    "regenerated keeping only even keys — rows MERGE cannot delete "
    "vanish, files fully inside the range drop on footer stats alone, "
    "and ok pins time travel + a range-confined change feed; round 11 "
    "folds in SHALLOW CLONE + RESTORE on a zero-copy branch — the "
    "clone diverges under its own merge, RESTOREs back to its v0, and "
    "must read as the source's snapshot again while the source's log "
    "never moves), and "
    "the four non-parquet source formats round-tripped with explicit "
    "declared schemas and FAILFAST (part=csv/json/orc/xml — XML native "
    "in Spark 4 — "
    "sources/catalog.py::read_csv/read_json + the ORC reader; Java's "
    "shortest-round-trip double formatting makes even the text formats "
    "value-exact). Results detach via eager localCheckpoint before the "
    "temp dirs are removed.",
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.sink import (
        compact_parquet,
        read_back,
        read_versioned,
        read_versioned_pointer,
        write_parquet,
        write_sorted_parquet,
        write_versioned,
    )

    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    # scratch space stays inside the repo (.tmp/ is gitignored; removed
    # in the finally) — the runtime contract forbids writes elsewhere
    scratch = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".tmp")
    os.makedirs(scratch, exist_ok=True)
    path = tempfile.mkdtemp(prefix="sink_roundtrip_", dir=scratch)
    try:
        rt_dir = os.path.join(path, "rt")
        write_parquet(c, rt_dir, partition_by=["c_mktsegment"])
        rt = (
            read_back(spark, rt_dir)
            # partition filter BEFORE materialization: only the two
            # matching directories are ever scanned
            .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
            .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
            .withColumn("ok", F.lit(True))
            .withColumn("part", F.lit("roundtrip"))
        )

        srt_dir = os.path.join(path, "sorted")
        write_sorted_parquet(c, srt_dir, sort_cols=["c_custkey"])
        srt = (
            read_back(spark, srt_dir)
            .where(F.col("c_custkey") % 7 == 0)
            .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
            .withColumn("ok", F.lit(True))
            .withColumn("part", F.lit("sorted"))
        )

        cmp_dir = os.path.join(path, "compact")
        write_parquet(
            c.where(F.col("c_custkey") % 3 == 0).repartition(4),
            cmp_dir,
            max_records_per_file=100,
        )
        n_before = _count_parquet_files(cmp_dir)
        compact_parquet(spark, cmp_dir)
        n_after = _count_parquet_files(cmp_dir)
        cmp = (
            read_back(spark, cmp_dir)
            .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
            .withColumn("ok", F.lit(bool(n_after < n_before)))
            .withColumn("part", F.lit("compact"))
        )

        ver_dir = os.path.join(path, "versioned")
        write_versioned(c.where(F.col("c_mktsegment") == "BUILDING"), ver_dir)
        write_versioned(c, ver_dir)
        # versions number from 0 (pointer starts at -1): the BUILDING
        # snapshot is v=0, the full table v=1, and the committed pointer
        # must have advanced to 1 while v=0 stays readable (time travel)
        ver = (
            read_versioned(spark, ver_dir, version=0)
            .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
            .withColumn("ok", F.lit(read_versioned_pointer(ver_dir) == 1))
            .withColumn("part", F.lit("versioned"))
        )

        from pyspark.sql import types as T

        from ..sources.catalog import read_csv, read_json

        fmt_schema = T.StructType(
            [
                T.StructField("c_custkey", T.LongType()),
                T.StructField("c_name", T.StringType()),
                T.StructField("c_acctbal", T.DoubleType()),
                T.StructField("c_mktsegment", T.StringType()),
            ]
        )
        csv_dir = os.path.join(path, "fmt_csv")
        c.where(F.col("c_custkey") % 5 == 0).write.option("header", "true").csv(csv_dir)
        fmt_csv = (
            read_csv(spark, csv_dir, fmt_schema)
            .withColumn("ok", F.lit(True))
            .withColumn("part", F.lit("csv"))
        )
        json_dir = os.path.join(path, "fmt_json")
        c.where(F.col("c_custkey") % 5 == 1).write.json(json_dir)
        fmt_json = (
            read_json(spark, json_dir, fmt_schema)
            .withColumn("ok", F.lit(True))
            .withColumn("part", F.lit("json"))
        )
        orc_dir = os.path.join(path, "fmt_orc")
        c.where(F.col("c_custkey") % 5 == 2).write.orc(orc_dir)
        fmt_orc = (
            spark.read.schema(fmt_schema).orc(orc_dir)
            .withColumn("ok", F.lit(True))
            .withColumn("part", F.lit("orc"))
        )
        # native XML (merged into Spark 4 from spark-xml): write with an
        # explicit rowTag, read back with the same declared schema —
        # like csv/json, Java's shortest-round-trip double formatting
        # keeps the text format value-exact
        xml_dir = os.path.join(path, "fmt_xml")
        c.where(F.col("c_custkey") % 5 == 3).write.format("xml").option(
            "rowTag", "row"
        ).save(xml_dir)
        fmt_xml = (
            spark.read.format("xml")
            .schema(fmt_schema)
            .option("rowTag", "row")
            .load(xml_dir)
            .withColumn("ok", F.lit(True))
            .withColumn("part", F.lit("xml"))
        )

        # part=txn: the transaction-log table (sources/txn.py) driven
        # end-to-end — create at v0 (8 range-partitioned files), MERGE a
        # narrow even-key slice, then fold the format's contract into ok:
        # (a) data files whose key range the merge could not touch are
        # byte-identical across the commit (file skipping is real, not
        # just logged), (b) time travel to v0 still reads the pre-merge
        # table exactly, (c) the new snapshot equals the pure upsert()
        # of the same inputs — so the oracle is plain SQL over customer
        import hashlib as _hashlib

        from ..operators.etl import upsert as _upsert
        from ..sources.txn import snapshot, txn_create, txn_merge, txn_read

        txn_dir = os.path.join(path, "txn")
        base = c.where(F.col("c_mktsegment") == "AUTOMOBILE")
        txn_create(base, txn_dir, key="c_custkey", range_partitions=8)
        _, _, _, live0 = snapshot(txn_dir)

        def _sha(rel: str) -> str:
            with open(os.path.join(txn_dir, rel), "rb") as fh:
                return _hashlib.sha256(fh.read()).hexdigest()

        upd = base.where(
            (F.col("c_custkey") % 2 == 0) & (F.col("c_custkey") <= 200)
        ).withColumn("c_acctbal", F.col("c_acctbal") + F.lit(500.0))
        txn_merge(
            spark, txn_dir, upd,
            update_cols=["c_acctbal", "c_mktsegment"],
            stable_cols=["c_name"],
            range_partitions=2,
        )
        _, _, _, live1 = snapshot(txn_dir)
        survivors = set(live0) & set(live1)
        hashes0 = {rel: _sha(rel) for rel in survivors}
        skip_ok = all(_sha(rel) == h for rel, h in hashes0.items())
        v0 = txn_read(spark, txn_dir, version=0)
        travel_ok = (
            v0.exceptAll(base).isEmpty() and base.exceptAll(v0).isEmpty()
        )
        merged = txn_read(spark, txn_dir)
        expected = _upsert(
            base, upd, "c_custkey", ["c_acctbal", "c_mktsegment"], ["c_name"]
        ).select(*merged.columns)
        merge_ok = (
            merged.exceptAll(expected).isEmpty()
            and expected.exceptAll(merged).isEmpty()
        )
        # change data feed: the commit's row-level I/U/D stream applied
        # onto the v0 snapshot must reconstruct the merged table exactly
        # (round 9 — txn_changes reads only the commit's NET rewritten
        # files, so feed volume tracks the rewrite, not the table)
        from ..operators.etl import apply_snapshot_cdc as _apply_cdc
        from ..sources.txn import txn_changes as _txn_changes

        feed = _txn_changes(spark, txn_dir, 0, 1).drop("_commit_version")
        rebuilt = _apply_cdc(v0, feed, ["c_custkey"]).select(*merged.columns)
        cdf_ok = (
            rebuilt.exceptAll(merged).isEmpty()
            and merged.exceptAll(rebuilt).isEmpty()
        )
        # OPTIMIZE (round 9): compact the post-merge small files; the
        # content must be untouched AND the optimize commit must be
        # invisible to the change feed (zero CDF rows)
        from ..sources.txn import txn_optimize as _txn_optimize

        v_opt = _txn_optimize(spark, txn_dir, target_files=1)
        after_opt = txn_read(spark, txn_dir)
        opt_ok = (
            v_opt == 2
            and after_opt.exceptAll(merged).isEmpty()
            and merged.exceptAll(after_opt).isEmpty()
            and _txn_changes(spark, txn_dir, 1, 2).isEmpty()
        )
        # replaceWhere (this round): regenerate the key range [0, 100]
        # keeping only its even keys at a sentinel balance — a range
        # overwrite MERGE cannot express (the odd keys in range must
        # VANISH).  ok folds in: the version advanced by one, the
        # pre-replace snapshot stays readable (time travel), and the
        # replace's change feed touches no key outside the range.  The
        # final content is what the driver hash checks.
        from ..sources.txn import txn_replace_where as _txn_rw

        repl = base.where(
            (F.col("c_custkey") <= 100) & (F.col("c_custkey") % 2 == 0)
        ).withColumn("c_acctbal", F.lit(999.0))
        v_rw = _txn_rw(spark, txn_dir, repl, 0, 100, range_partitions=2)
        after_rw = txn_read(spark, txn_dir)
        exp_rw = merged.where(F.col("c_custkey") > 100).unionByName(
            repl.select(*merged.columns)
        )
        rw_feed = _txn_changes(spark, txn_dir, v_opt, v_rw)
        rw_ok = (
            v_rw == v_opt + 1
            and after_rw.exceptAll(exp_rw).isEmpty()
            and exp_rw.exceptAll(after_rw).isEmpty()
            and rw_feed.where(F.col("c_custkey") > 100).isEmpty()
            and txn_read(spark, txn_dir, version=v_opt)
            .exceptAll(merged)
            .isEmpty()
        )
        # SHALLOW CLONE + RESTORE (round 11), exercised on a branch so
        # the driver-hashed final content stays the replaceWhere result:
        # clone the table zero-copy, advance the clone with a merge the
        # SOURCE must never see, then RESTORE the clone to its v0 — it
        # must read as the source's current snapshot again, while the
        # source's own log never moved
        from ..sources.txn import latest_version as _txn_latest
        from ..sources.txn import txn_clone as _txn_clone
        from ..sources.txn import txn_restore as _txn_restore

        clone_dir = os.path.join(path, "txn-clone")
        _txn_clone(txn_dir, clone_dir)
        clone0 = txn_read(spark, clone_dir)
        diverge = base.limit(7).withColumn("c_name", F.lit("clone-only"))
        txn_merge(
            spark, clone_dir, diverge,
            update_cols=["c_acctbal", "c_mktsegment"],
            stable_cols=["c_name"],
        )
        src_head_before = _txn_latest(txn_dir)
        _txn_restore(clone_dir, 0)
        restored = txn_read(spark, clone_dir)
        clone_ok = (
            clone0.exceptAll(after_rw).isEmpty()
            and after_rw.exceptAll(clone0).isEmpty()
            and restored.exceptAll(after_rw).isEmpty()
            and after_rw.exceptAll(restored).isEmpty()
            and _txn_latest(txn_dir) == src_head_before
            and txn_read(spark, txn_dir)
            .exceptAll(after_rw)
            .isEmpty()
        )
        txn = after_rw.withColumn(
            "ok",
            F.lit(
                bool(
                    skip_ok
                    and travel_ok
                    and merge_ok
                    and cdf_ok
                    and opt_ok
                    and rw_ok
                    and clone_ok
                )
            ),
        ).withColumn("part", F.lit("txn"))

        out = (
            rt.unionByName(srt)
            .unionByName(cmp)
            .unionByName(ver)
            .unionByName(fmt_csv)
            .unionByName(fmt_json)
            .unionByName(fmt_orc)
            .unionByName(fmt_xml)
            .unionByName(txn)
            .select(
                "part", "c_custkey", "c_name", "c_acctbal", "c_mktsegment", "ok"
            )
        )
        return eager_pin(out)
    finally:
        shutil.rmtree(path, ignore_errors=True)


_UPSERT_ORACLE = """
    WITH e AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(12,2)) AS total
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    i AS (
      SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, 'U' AS o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 1.50 AS DECIMAL(13,2)) AS total
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT COALESCE(i.o_orderkey, e.o_orderkey) AS o_orderkey,
           CASE WHEN i.o_orderkey IS NOT NULL THEN i.o_orderstatus ELSE e.o_orderstatus END AS o_orderstatus,
           CAST(CASE WHEN i.o_orderkey IS NOT NULL THEN i.total ELSE e.total END AS DOUBLE) AS total,
           CASE WHEN e.o_orderkey IS NOT NULL THEN e.o_custkey ELSE i.o_custkey END AS o_custkey
    FROM e FULL OUTER JOIN i ON e.o_orderkey = i.o_orderkey
    ORDER BY o_orderkey
"""


def _upsert_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The existing and incoming orders both upsert queries merge —
    _UPSERT_ORACLE's ``e`` and ``i`` CTEs."""
    o = load(spark, sf_dir, "orders")
    existing = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("total"),
    )
    incoming = o.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_custkey") + 1000000).alias("o_custkey"),
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(12,2)") + F.lit("1.50").cast("decimal(3,2)"))
        .cast("decimal(13,2)")
        .alias("total"),
    )
    return existing, incoming


@register(
    "etl_upsert_orders",
    oracle=_UPSERT_ORACLE,
    doc="S5: INSERT..ON CONFLICT DO UPDATE (webscraper-postgres.py:199-209) "
    "as a pure full-outer+case transformation: dynamic columns update-win, "
    "stable columns keep the existing side, unmatched incoming rows insert. "
    "At scale this is Delta/Iceberg MERGE INTO; semantics identical.",
)
def etl_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    existing, incoming = _upsert_inputs(spark, sf_dir)
    merged = upsert(
        existing,
        incoming,
        key="o_orderkey",
        update_cols=["o_orderstatus", "total"],
        stable_cols=["o_custkey"],
    )
    return merged.select(
        "o_orderkey", "o_orderstatus", F.col("total").cast("double").alias("total"), "o_custkey"
    ).orderBy("o_orderkey")


@register(
    "etl_full_pipeline",
    oracle=with_etl_ctes(
        """
        SELECT (SELECT COUNT(*) FROM movies) AS n_movies,
               (SELECT COUNT(*) FROM people) AS n_people,
               (SELECT COUNT(*) FROM (
                  SELECT DISTINCT m.movie_id, p.person_id
                  FROM details_raw d
                  JOIN movies m ON m.description = d.description
                  JOIN people p ON p.name = d.director
                  WHERE d.director IS NOT NULL)) AS n_director,
               (SELECT COUNT(*) FROM (
                  SELECT DISTINCT m.movie_id, p.person_id
                  FROM details_raw d
                  JOIN movies m ON m.description = d.description
                  JOIN people p ON p.name IN (SELECT unnest(d.writers))
                  WHERE d.writers IS NOT NULL)) AS n_writer,
               (SELECT COUNT(*) FROM (
                  SELECT DISTINCT m.movie_id, p.person_id
                  FROM details_raw d
                  JOIN movies m ON m.description = d.description
                  JOIN people p ON p.name IN (SELECT unnest(d.stars))
                  WHERE d.stars IS NOT NULL)) AS n_star
        """
    ),
    doc="The reference pipeline end-to-end in ONE lazy plan: extract → "
    "clean → surrogate keys → normalize people → all three bridge "
    "tables (webscraper-postgres.py:29-285 runs this as five eager "
    "stages with per-row DB round-trips). The output is the load "
    "summary — five counts, each subplan sharing the same scans via "
    "plan reuse.",
)
def etl_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = _etl_tables(spark, sf_dir)
    counts = [
        df.agg(F.count("*").alias(col))
        for df, col in zip(
            tables.values(),
            ("n_movies", "n_people", "n_director", "n_writer", "n_star"),
        )
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(c)
    return out


@register(
    "etl_incremental_rerun",
    oracle=_UPSERT_ORACLE,
    doc="S7: the reference's weekly cron re-run (Dockerfile:55, "
    "README.md:132-133) — idempotency as a checkable property: applying "
    "the same incoming batch through upsert TWICE must equal applying it "
    "once, so the oracle is etl_upsert_orders' own expected output. "
    "Stable columns survive because the first merge's rows count as "
    "'existing' on the second pass.",
)
def etl_incremental_rerun(spark: SparkSession, sf_dir: str) -> DataFrame:
    existing, incoming = _upsert_inputs(spark, sf_dir)
    kw = dict(key="o_orderkey", update_cols=["o_orderstatus", "total"], stable_cols=["o_custkey"])
    once = upsert(existing, incoming, **kw)
    twice = upsert(once.select(*existing.columns), incoming, **kw)
    return twice.select(
        "o_orderkey", "o_orderstatus", F.col("total").cast("double").alias("total"), "o_custkey"
    ).orderBy("o_orderkey")


@register(
    "etl_insert_ignore_customers",
    oracle="""
    WITH e AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0
    ),
    i AS (
      SELECT DISTINCT o_custkey AS c_custkey,
             'NewCustomer#' || CAST(o_custkey AS VARCHAR) AS c_name
      FROM orders
    )
    SELECT * FROM e
    UNION ALL
    SELECT * FROM i WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.c_custkey = i.c_custkey)
    ORDER BY c_custkey
    """,
    doc="S6: INSERT..ON CONFLICT DO NOTHING (webscraper-postgres.py:160) as "
    "anti-join + append — first-writer-wins, set-oriented instead of "
    "per-row round-trips.",
)
def etl_insert_ignore_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    existing = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_name")
    )
    incoming = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.concat(F.lit("NewCustomer#"), F.col("o_custkey").cast("string")).alias(
                "c_name"
            ),
        )
        .distinct()
    )
    return insert_ignore(existing, incoming, "c_custkey").orderBy("c_custkey")


@register(
    "sink_managed_table",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    doc="S4 managed-table path (reference webscraper-postgres.py:109-144): "
    "CREATE TABLE IF NOT EXISTS ... USING parquet through the catalog, "
    "set-oriented insertInto, read back via spark.table, DROP in a "
    "finally. The catalog (warehouse-dir) twin of sink_parquet_roundtrip's "
    "path-based write; results detach via eager localCheckpoint so the "
    "table is disposable.",
)
def sink_managed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import money
    from ..sources.sink import create_table, drop_table, insert_into

    name = "spark_graft_nation_stats"
    stats = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(money("c_acctbal")).cast("double").alias("total_acctbal"),
        )
        .select("n_name", "n_customers", "total_acctbal")
    )
    drop_table(spark, name)
    create_table(
        spark, name, "n_name STRING, n_customers BIGINT, total_acctbal DOUBLE"
    )
    try:
        insert_into(stats, name)
        return eager_pin(spark.table(name).orderBy("n_name"))
    finally:
        drop_table(spark, name)


@register(
    "sink_jdbc_roundtrip",
    oracle=(
        "SELECT 'write_read' AS part, c_custkey, c_name, c_acctbal, "
        "c_mktsegment, true AS ok FROM customer WHERE c_custkey % 4 = 1"
        "\nUNION ALL\n"
        "SELECT 'parallel' AS part, c_custkey, c_name, c_acctbal, "
        "c_mktsegment, true AS ok FROM customer WHERE c_custkey % 4 = 1"
        "\nUNION ALL\n"
        "SELECT 'pushdown' AS part, c_custkey, c_name, c_acctbal, "
        "c_mktsegment, true AS ok FROM customer "
        "WHERE c_custkey % 4 = 1 AND c_mktsegment = 'BUILDING'"
    ),
    doc="S3 JDBC read/write exercised END-TO-END against embedded Derby "
    "(the JDBC engine Spark itself ships for its metastore — zero extra "
    "jars), upgrading the last untested component: a batched "
    "write_jdbc(overwrite) into a disposable Derby database, then three "
    "read paths hash-checked against the plain customer oracle: a full "
    "scan (part=write_read — JDBC round-trips BIGINT/VARCHAR/DOUBLE "
    "value-exactly), a parallel partitioned read with "
    "partitionColumn/numPartitions=4 (part=parallel — ok pins that the "
    "scan really planned 4 JDBC partitions, i.e. 4 concurrent "
    "connections each with a WHERE stride: the shape that extracts a "
    "100 TB fact table at cluster parallelism), and a filtered read "
    "(part=pushdown — ok pins PushedFilters contains the equality, i.e. "
    "the predicate compiled into Derby's WHERE clause instead of "
    "filtering post-transfer).  createTableColumnTypes maps the string "
    "columns to VARCHAR (Derby's default CLOB mapping cannot be "
    "compared, grouped, or pushed down).  Results detach via eager "
    "localCheckpoint before the database directory is removed.",
)
def sink_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.catalog import DERBY_EMBEDDED_DRIVER, read_jdbc
    from ..sources.sink import write_jdbc

    c = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .where(F.col("c_custkey") % 4 == 1)
    )
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".tmp"
    )
    os.makedirs(scratch, exist_ok=True)
    path = tempfile.mkdtemp(prefix="jdbc_roundtrip_", dir=scratch)
    try:
        try:
            # Derby writes derby.log into user.dir unless told otherwise;
            # point it at the disposable dir BEFORE the engine boots
            # (first connection).  Classic-session-only JVM access — on a
            # Connect session the log lands in cwd, harmless.
            spark._jvm.java.lang.System.setProperty(
                "derby.stream.error.file", os.path.join(path, "derby.log")
            )
        except Exception:
            pass
        url = f"jdbc:derby:{os.path.join(path, 'db')};create=true"
        write_jdbc(
            c,
            url,
            "cust",
            mode="overwrite",
            driver=DERBY_EMBEDDED_DRIVER,
            # Derby maps Spark StringType to CLOB by default, which cannot
            # be =, GROUP BY'd, or pushed down — declare VARCHAR widths
            createTableColumnTypes=(
                "c_name VARCHAR(40), c_mktsegment VARCHAR(16)"
            ),
        )
        cols = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]

        full = (
            read_jdbc(spark, url, "cust", driver=DERBY_EMBEDDED_DRIVER)
            .select(*cols)
            .withColumn("ok", F.lit(True))
            .withColumn("part", F.lit("write_read"))
        )

        # fixed stride bounds: Spark's JDBC partitioning is COMPLETE by
        # construction (rows below lowerBound land in the first stride's
        # unbounded WHERE, rows >= upperBound in the last), so bounds are
        # a parallelism hint, not a filter — literals keep the engine
        # free of driver-side actions (the no-collect guard) and stay
        # correct at any sf; production reads pull real bounds from
        # table statistics
        par_df = read_jdbc(
            spark,
            url,
            "cust",
            driver=DERBY_EMBEDDED_DRIVER,
            partitionColumn="c_custkey",
            lowerBound="1",
            upperBound="100000",
            numPartitions="4",
        )
        ok_par = par_df.rdd.getNumPartitions() == 4
        par = (
            par_df.select(*cols)
            .withColumn("ok", F.lit(bool(ok_par)))
            .withColumn("part", F.lit("parallel"))
        )

        pushed_df = read_jdbc(
            spark, url, "cust", driver=DERBY_EMBEDDED_DRIVER
        ).where(F.col("c_mktsegment") == "BUILDING")
        ok_push = "EqualTo(c_mktsegment,BUILDING)" in _physical_plan(pushed_df)
        pushed = (
            pushed_df.select(*cols)
            .withColumn("ok", F.lit(bool(ok_push)))
            .withColumn("part", F.lit("pushdown"))
        )

        return eager_pin(full.unionByName(par).unionByName(pushed))
    finally:
        shutil.rmtree(path, ignore_errors=True)
