"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline on sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2.
``oracle_sql()`` — DuckDB replays; generators replay exactly because
the engine's RNG is counter-based column algebra (see
nifi_datasynthesizer_spark/rng.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nifi_datasynthesizer_spark import compile_schema, synthesizers as SZ
from nifi_datasynthesizer_spark.cache import pin, released
from nifi_datasynthesizer_spark.operators import dedup as DD
from nifi_datasynthesizer_spark.operators import multimodal as MM
from nifi_datasynthesizer_spark.operators import similarity as SIM
from nifi_datasynthesizer_spark.operators import text as TX
from nifi_datasynthesizer_spark import io as IO
from nifi_datasynthesizer_spark.oracles import _NORM, _WORDS


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from nifi_datasynthesizer_spark.io import read_table
    return read_table(spark, sf_dir, name)


def _psort(df: DataFrame, *keys: str) -> DataFrame:
    """Presentation sort over a pinned frame (r11).  ``orderBy``'s
    range partitioner SAMPLES its child plan to pick partition
    bounds, so an entry whose chain is narrow from the source to the
    sort (scan/generate → project, with no intervening exchange for
    AQE to materialize and reuse) executes the whole projection
    TWICE per query — once for the bounds, once for the shuffle.
    Pinning first makes the sampling pass and the exchange both read
    the cache: the expensive projection computes ONCE and the sort
    shuffles only the (usually narrow) projected output — measured
    ~2× on the per-document text annotators.  Rows and row order are
    identical (same sort over the same frame).  The pin is released
    by bench/tests via ``cache.release_caches()``."""
    return pin(df).orderBy(*keys)


# Array columns must leave queries() as strings: the driver's
# canonicalizer sorts a pandas frame and dies on unhashable lists.
# Exact-integer arrays join as-is; double arrays are floored to integer
# parts-per-million first — both engines compute the same IEEE doubles
# from the same algebra, so floor(x*1e6) is bit-identical on each side
# while decimal *formatting* of raw doubles is not.

def _arr_str(c) -> "F.Column":
    """array<exact-int> -> 'a,b,c'."""
    return F.array_join(F.transform(c, lambda e: e.cast("string")), ",")


def _arr_ppm(c) -> "F.Column":
    """array<double> -> 'floor(e*1e6),...' (engine-portable exact)."""
    return F.array_join(
        F.transform(c, lambda e: F.floor(e * F.lit(1000000.0))
                    .cast("long").cast("string")), ",")


def _sql_arr_str(col: str) -> str:
    return f"array_to_string({col}, ',')"


def _sql_arr_ppm(col: str) -> str:
    return (f"array_to_string(list_transform({col}, "
            f"e -> CAST(FLOOR(e * 1e6) AS BIGINT)), ',')")


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: corpus hygiene report on the documents table —
    exact-dedup survivors × heuristic language ID × quality scoring,
    aggregated per predicted language."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    kept = DD.dedup_exact_keep(docs)
    scored = TX.quality_score(TX.lang_id(kept))
    return (scored.groupBy("pred_lang")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("quality"), 4).alias("avg_quality"),
                 F.round(F.avg("q_n_words"), 2).alias("avg_words"))
            .orderBy("pred_lang"))


# ------------------------------------------------------------- schemas

SYNTH_BASIC_SCHEMA = [
    {"name": "rec_id", "class": "id"},
    {"name": "qty", "class": "int", "min": 1, "max": 50},
    {"name": "price", "class": "double", "min": 0, "max": 1000},
    {"name": "segment", "class": "string", "dist": {"A": 5, "B": 3, "C": 2}},
    {"name": "full_name", "class": "name"},
    {"name": "email", "class": "email"},
    {"name": "signup", "class": "date", "start": "2020-01-01", "end": "2024-01-01"},
    {"name": "signup_ts", "class": "date", "format": "yyyy-MM-dd HH:mm:ss",
     "start": "2020-01-01", "end": "2024-01-01"},
    {"name": "score", "class": "normal", "mean": 100, "sd": 15},
    {"name": "wait", "class": "gamma", "alpha": 3, "beta": 2},
    {"name": "customer_fk", "class": "foreign-key", "size": 500, "skew": 1},
    {"name": "fav_word", "class": "word"},
    {"name": "state", "class": "state"},
    {"name": "country", "class": "country"},
    {"name": "addr", "class": "address"},
]

SYNTH_IDENT_SCHEMA = [
    {"name": "rec_id", "class": "id"},
    {"name": "uid", "class": "uuid"},
    {"name": "imei", "class": "imei"},
    {"name": "ssn", "class": "ssn"},
    {"name": "vin", "class": "vin"},
    {"name": "mac", "class": "mac"},
    {"name": "ip", "class": "ipv4"},
    {"name": "plate", "class": "license-plate"},
    {"name": "user", "class": "username"},
    {"name": "site", "class": "domain"},
    {"name": "ua_browser", "class": "browser"},
    {"name": "ua_os", "class": "os"},
    {"name": "lang", "class": "language"},
]

# Exotic samplers split scalar vs nested: one bad column in a combined
# query hides eleven good ones (round-1 lesson), and the driver's
# canonicalizer can't sort raw array columns.
SYNTH_EXOTIC_SCALAR_SCHEMA = [
    {"name": "rec_id", "class": "id"},
    {"name": "walk", "class": "random-walk", "start": 100.0, "mean": 0.0,
     "sd": 2.0, "precision": 6},
    {"name": "band", "class": "changer", "every": 25,
     "value": {"class": "word"}},
    {"name": "fan", "class": "long-tail", "alpha": 1.2, "universe": 1000},
    {"name": "burst_t", "class": "bursty-events", "burst": 10,
     "gap": 7200, "within": 2},
    {"name": "arrival", "class": "event", "rate": "5/s",
     "format": "yyyy-MM-dd HH:mm:ss"},
    {"name": "color", "class": "lookup",
     "values": ["red", "green", "blue", "cyan", "magenta"]},
    {"class": "flatten", "prefix": "m_",
     "value": {"name": "meta", "class": "map", "value": [
         {"name": "level", "class": "int", "min": 1, "max": 6},
         {"name": "code", "class": "word"}]}},
]

SYNTH_EXOTIC_NESTED_SCHEMA = [
    {"name": "rec_id", "class": "id"},
    {"name": "tags", "class": "sequence", "base": {"class": "word"},
     "length": 3},
    {"name": "tag_line", "class": "join", "separator": "|",
     "value": {"class": "sequence", "base": {"class": "word"}, "length": 4}},
    {"name": "vec", "class": "vector", "size": 4, "min": -1.0, "max": 1.0},
    {"name": "grid", "class": "array-flatten",
     "value": {"class": "sequence", "length": 2,
               "base": {"class": "sequence", "length": 2,
                        "base": {"class": "int", "min": 0, "max": 9}}}},
]

# dns/header/toll/street-name (the four previously unit-only samplers)
# in one oracle-gated query; structs flatten to scalar columns
SYNTH_NET_SCHEMA = [
    {"name": "rec_id", "class": "id"},
    {"name": "host", "class": "dns"},          # plain-string hostname mode
    {"class": "flatten", "prefix": "dns_",
     "value": {"name": "d", "class": "dns",
               "fields": "domain,ipV4,timestamp_s",
               "alpha": 200, "discount": 0.3}},
    {"name": "hdr", "class": "header"},
    {"name": "hdr_mal", "class": "header", "type": "mal3"},
    {"class": "flatten", "prefix": "toll_",
     "value": {"name": "t", "class": "toll"}},
    {"name": "street", "class": "street-name"},
]

SYNTH_N = 20_000

# BM25 retrieval queries over the synthetic documents table (its
# vocabulary is database/engine words, so these hit real postings)
BM25_QUERIES = ["hash join table", "window sort merge", "scan filter fast"]

# email/ip/ssn/phone bearing records for the PII-scrub query — the
# generated fields are concatenated into one sentence, scrubbed, and
# the oracle replays generation + regex scrub in DuckDB
# continental-US points for the spatial near-join (zip-universe
# lat/lon through the flatten sampler — same machinery as synth_iot)
GEO_SCHEMA = [
    {"name": "pid", "class": "id"},
    {"class": "flatten", "prefix": "",
     "value": {"name": "z", "class": "zip", "onlyContinental": True,
               "fields": "latitude,longitude"}},
]
GEO_N = 4000
GEO_RADIUS_UDEG = 50_000

SYNTH_PII_SCHEMA = [
    {"name": "rec_id", "class": "id"},
    {"name": "em", "class": "email"},
    {"name": "ip", "class": "ipv4"},
    {"name": "ssn", "class": "ssn"},
    {"name": "ph", "class": "phone"},
]

# messy-URL fixture for dedup_url: (site, page) pick the logical page,
# t picks one of four spellings of it (clean / cased+default-port+
# trailing-slash / tracking params / shuffled params + tracking)
SYNTH_URL_SCHEMA = [
    {"name": "rec_id", "class": "id"},
    {"name": "d", "class": "int", "min": 0, "max": 20},
    {"name": "p", "class": "int", "min": 0, "max": 10},
    {"name": "t", "class": "int", "min": 0, "max": 4},
]

# training-mix rates for the corpus_sample query: each of the 20
# sources keeps a different deterministic fraction
SAMPLE_RATES = {f"src{i}": (100_000 + (i * 45_000) % 900_000) / 1_000_000
                for i in range(20)}


# -------------------------------------------------------------- queries

# The driver's correctness harness oracles exactly the FIRST 50 entries
# of queries() in dict-insertion order, so _rotate moves these names to
# the front: the first 50 are the driver-checked head, the rest lead
# the next window.  `python scripts/verification_age.py --summary`
# prints the next head from the CORRECTNESS_r*.json artifacts.
_WINDOW = [
    "text_bm25", "corpus_ngrams", "dedup_spans", "text_pii_scrub",
    "corpus_build", "media_phash_dedup", "graph_label_prop",
    "text_keywords", "text_fluency", "text_classify",
    "corpus_tokenizer_fertility", "embed_quantize", "search_rrf",
    "events_funnel_windowed", "q1_pricing_summary", "q3_top_orders",
    "q5_nation_revenue", "io_rowgroup_audit", "events_daily",
    "events_sessionize", "events_retention", "events_asof_balance",
    "events_range_windows", "events_salted_join", "media_resize",
    "streaming_events_daily", "streaming_sessionize",
    "streaming_enrich_nation", "streaming_dedup_docs",
    "streaming_running_totals", "streaming_running_totals_pandas",
    "synth_basic", "synth_identifiers", "synth_phone_numbers",
    "synth_commuter", "synth_weblog", "ann_ivf_derived", "ann_ivf_arrow",
    "io_signature_store", "media_features", "media_dedup",
    "graph_pagerank", "geo_near", "graph_triangles",
    "streaming_dedup_cross", "corpus_split", "events_funnel",
    "events_ohlc", "events_anomaly", "events_rolling",
    # past the 50-slot head: leads the next window
    "events_pivot", "events_rollup", "events_cube", "sketch_distinct",
    "sketch_heavy_hitters", "sketch_merge", "sketch_quantiles",
    "sketch_bloom", "events_scd2", "events_ewma", "events_gap_fill",
    "streaming_stream_join",
]


def _rotate(q: dict) -> dict:
    head = [n for n in _WINDOW if n in q]
    return {n: q[n] for n in head + [n for n in q if n not in head]}


def _stream_tuned(fn, n: int = 8):
    """Start streaming queries under a state-store partition count
    sized to the replayed streams (streaming.state_partitions): state
    partitioning is fixed at first checkpoint, and each partition
    costs a provider instance + checkpoint files per micro-batch, so
    a batch-shuffle-sized default never amortizes on these volumes.
    The drain happens inside ``fn``; the final memory-table read the
    wrapped function returns is batch and runs under the restored
    setting."""
    def wrapped(spark, sf):
        from nifi_datasynthesizer_spark.streaming import state_partitions
        with state_partitions(spark, n):
            return fn(spark, sf)
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- classic analytics over the TPC-H-ish tables (engine plumbing)
    def q1_pricing_summary(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (li.filter(F.col("l_shipdate") <= "1998-09-02")
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                     F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                     F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                     .alias("sum_disc_price"),
                     F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                     F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                     F.count("*").alias("count_order"))
                .orderBy("l_returnflag", "l_linestatus"))
    q["q1_pricing_summary"] = q1_pricing_summary

    def q3_top_orders(spark, sf):
        cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
        orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1995-03-15")
        li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
        # customer is the small side at every SF → broadcast; lineitem
        # never shuffles on customer key
        j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey))
        return (j.groupBy("l_orderkey", "o_orderdate")
                .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                     .alias("revenue"))
                .orderBy(F.desc("revenue"), "l_orderkey").limit(10))
    q["q3_top_orders"] = q3_top_orders

    def q5_nation_revenue(spark, sf):
        li = _t(spark, sf, "lineitem")
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer")
        supp = _t(spark, sf, "supplier")
        nation = _t(spark, sf, "nation")
        j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .join(supp, li.l_suppkey == supp.s_suppkey)
             .join(cust, (orders.o_custkey == cust.c_custkey)
                   & (cust.c_nationkey == supp.s_nationkey))
             .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey))
        return (j.groupBy("n_name")
                .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                     .alias("revenue"))
                .orderBy(F.desc("revenue"), "n_name"))
    q["q5_nation_revenue"] = q5_nation_revenue

    def q6_forecast_revenue(spark, sf):
        """TPC-H Q6: pure scan-filter-aggregate — the predicate-
        pushdown/column-pruning showcase (the parquet scan should
        read 4 columns and push all three range predicates; no
        shuffle beyond the 1-row partial-agg exchange)."""
        li = _t(spark, sf, "lineitem")
        f = (li.filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                       & (F.col("l_shipdate") < F.lit("1997-01-01"))
                       & (F.col("l_discount") >= 0.05)
                       & (F.col("l_discount") <= 0.07)
                       & (F.col("l_quantity") < 24)))
        return f.agg(F.round(F.sum(F.col("l_extendedprice")
                                   * F.col("l_discount")), 2)
                     .alias("revenue"))
    q["q6_forecast_revenue"] = q6_forecast_revenue

    def q4_order_priority(spark, sf):
        """TPC-H Q4 shape (adapted to this schema: the EXISTS
        condition is "has a returned line" — l_returnflag = 'R' —
        since the testdata carries no commit/receipt dates): the
        LEFT SEMI join showcase.  The semi join deduplicates the
        probe side inside the join (no distinct needed), the
        lineitem side prunes to ONE column (l_orderkey) after its
        filter pushes to the scan, and the quarter predicate on
        orders pushes down too — the plan every EXISTS subquery
        should compile to at 100 TB."""
        orders = _t(spark, sf, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-04-01")))
        returned = (_t(spark, sf, "lineitem")
                    .filter(F.col("l_returnflag") == "R")
                    .select("l_orderkey"))
        return (orders.join(returned,
                            orders.o_orderkey == returned.l_orderkey,
                            "left_semi")
                .groupBy("o_orderpriority")
                .agg(F.count("*").alias("order_count"))
                .orderBy("o_orderpriority"))
    q["q4_order_priority"] = q4_order_priority

    def q10_returned_customers(spark, sf):
        """TPC-H Q10 shape (r11 verdict 3c, adapted to this schema's
        columns and 1996 date range): revenue lost to returned items,
        per customer, top 20.  Join-order discipline for 100 TB: the
        revenue aggregate runs on (o_custkey) BEFORE any customer
        attribute joins — lineitem x orders shuffles once on the
        order key, reduces to at most |customers| rows, and only THAT
        frame joins the broadcast customer/nation dims, so wide
        customer attributes never ride a fact-sized shuffle.  Both
        filters (quarter, returnflag) push to the scans."""
        orders = _t(spark, sf, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1996-10-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))) \
            .select("o_orderkey", "o_custkey")
        li = (_t(spark, sf, "lineitem")
              .filter(F.col("l_returnflag") == "R")
              .select("l_orderkey", "l_extendedprice", "l_discount"))
        rev = (li.join(orders, li.l_orderkey == orders.o_orderkey)
               .groupBy("o_custkey")
               .agg(F.round(F.sum(F.col("l_extendedprice")
                                  * (1 - F.col("l_discount"))), 2)
                    .alias("revenue")))
        cust = _t(spark, sf, "customer")
        nation = _t(spark, sf, "nation")
        return (rev.join(F.broadcast(cust),
                         rev.o_custkey == cust.c_custkey)
                .join(F.broadcast(nation),
                      cust.c_nationkey == nation.n_nationkey)
                .select("c_custkey", "c_name", "revenue", "c_acctbal",
                        "n_name")
                .orderBy(F.desc("revenue"), "c_custkey").limit(20))
    q["q10_returned_customers"] = q10_returned_customers

    def q18_large_orders(spark, sf):
        """TPC-H Q18 shape (r11 verdict 3c): customers who placed
        orders totalling > 300 units — the group-limit-with-HAVING-
        subquery showcase.  Spark-first: the HAVING aggregate IS the
        payload — lineitem aggregates per order once (map-side
        partial, one shuffle on l_orderkey), the > 300 filter shrinks
        it to a sliver, and that sliver joins orders + broadcast
        customer; the canonical formulation's second lineitem scan
        (re-summing inside the outer GROUP BY) never happens.  One
        fact scan, one fact shuffle, top-100 via a bounded sort."""
        big = (_t(spark, sf, "lineitem")
               .groupBy("l_orderkey")
               .agg(F.sum("l_quantity").alias("sum_qty"))
               .filter(F.col("sum_qty") > 300))
        orders = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        cust = _t(spark, sf, "customer").select("c_custkey", "c_name")
        return (big.join(orders, big.l_orderkey == orders.o_orderkey)
                .join(F.broadcast(cust),
                      orders.o_custkey == cust.c_custkey)
                .select("c_name", "c_custkey", "o_orderkey",
                        "o_orderdate", "o_totalprice",
                        F.round("sum_qty", 2).alias("sum_qty"))
                .orderBy(F.desc("o_totalprice"), "o_orderdate",
                         "o_orderkey").limit(100))
    q["q18_large_orders"] = q18_large_orders

    def q14_promo_revenue(spark, sf):
        """TPC-H Q14 shape: promo-type revenue share for one ship
        month.  One lineitem scan with the month range pushed to
        parquet, part broadcast (dim side), a single 1-row aggregate;
        the share is re-derived in integer cents/ppm AFTER the
        2-dp-rounded sums (both engines agree on the rounded sums —
        the established contract — so the ratio is then pure integer
        and exact)."""
        li = _t(spark, sf, "lineitem").filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))) \
            .select("l_partkey", "l_extendedprice", "l_discount")
        part = _t(spark, sf, "part").select("p_partkey", "p_type")
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        j = li.join(F.broadcast(part),
                    li.l_partkey == part.p_partkey)
        agg = j.agg(
            F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev)
                          .otherwise(F.lit(0.0))), 2).alias("pr"),
            F.round(F.sum(rev), 2).alias("tr"))
        return agg.select(
            F.round(F.col("pr") * 100, 0).cast("long")
            .alias("promo_cents"),
            F.round(F.col("tr") * 100, 0).cast("long")
            .alias("total_cents"),
            F.expr("CAST(ROUND(pr * 100, 0) AS BIGINT) * 1000000 div "
                   "CAST(ROUND(tr * 100, 0) AS BIGINT)")
            .alias("promo_ppm"))
    q["q14_promo_revenue"] = q14_promo_revenue

    def io_bucketed_join(spark, sf):
        """Co-located fact-fact join: both sides written as bucketed
        tables on the join key (equal bucket counts), so the
        sort-merge join runs with NO exchange on either side — at
        100 TB this deletes the two largest shuffles of the query
        (plan-asserted in tests/test_io.py).  The per-customer
        rollup after the join is the only exchange left."""
        import shutil
        from urllib.parse import urlparse

        from nifi_datasynthesizer_spark.io import write_bucketed
        # a FRESH session's in-memory catalog doesn't know about a
        # previous session's managed-table directories, and saveAsTable
        # refuses to claim an existing location — drop both the
        # catalog entry and any orphaned directory before writing
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for t in ("q_orders_b", "q_lineitem_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
        orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
        li = _t(spark, sf, "lineitem").select(
            "l_orderkey",
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 100).cast("long").alias("rev_cents"))
        write_bucketed(orders, "q_orders_b", ["o_orderkey"], 16,
                       sort_by=["o_orderkey"])
        write_bucketed(li, "q_lineitem_b", ["l_orderkey"], 16,
                       sort_by=["l_orderkey"])
        a, b = spark.table("q_orders_b"), spark.table("q_lineitem_b")
        j = a.hint("merge").join(b, a.o_orderkey == b.l_orderkey)
        return (j.groupBy("o_custkey")
                .agg(F.count("*").alias("n_items"),
                     F.sum("rev_cents").alias("revenue_cents"))
                .orderBy("o_custkey"))
    q["io_bucketed_join"] = io_bucketed_join

    def corpus_filter_report(spark, sf):
        """C4/Gopher filter-funnel accounting: per-rule drop counts
        under sequential semantics, one narrow pass + one aggregate,
        |rules|+1 rows out."""
        from nifi_datasynthesizer_spark.operators.curation import \
            corpus_filter_report
        docs = _t(spark, sf, "documents")
        return corpus_filter_report(docs).orderBy("rule_idx")
    q["corpus_filter_report"] = corpus_filter_report

    def io_zorder(spark, sf):
        """Z-order (Morton) clustering report: events keyed by the
        bit-interleave of (user bucket, day bucket); per-z-bucket
        min/max spans on BOTH dimensions stay narrow (a lexicographic
        sort narrows only the leading one) — the layout primitive
        behind OPTIMIZE ZORDER BY, as pure integer column algebra."""
        x = "pmod(user_id, 16)"
        y = ("pmod(datediff(to_date(ts), DATE '1970-01-01'), 16)")
        ev = _t(spark, sf, "events")
        staged = ev.select(
            F.expr(x).cast("long").alias("x"),
            F.expr(y).cast("long").alias("y"),
            IO.zorder_key(x, y, bits=4).alias("z"))
        return (staged.groupBy(F.expr("z div 16").alias("zbucket"))
                .agg(F.count("*").alias("n_rows"),
                     F.min("x").alias("min_x"), F.max("x").alias("max_x"),
                     F.min("y").alias("min_y"), F.max("y").alias("max_y"))
                .select("zbucket", "n_rows", "min_x", "max_x",
                        "min_y", "max_y",
                        F.expr("(max_x - min_x + 1) * (max_y - min_y + 1)")
                        .alias("span_product"))
                .orderBy("zbucket"))
    q["io_zorder"] = io_zorder

    def io_schema_evolution(spark, sf):
        """Schema-evolution read: two parquet snapshots of the corpus
        — v2 adds a ``quality`` column — read back as ONE frame with
        ``mergeSchema`` (v1 rows surface NULLs), rolled up per
        snapshot.  This is how a 100 TB table actually grows columns:
        old files are never rewritten; the reader reconciles
        footers, and downstream aggregates must be NULL-correct."""
        import shutil
        import tempfile

        docs = _t(spark, sf, "documents")
        d = tempfile.mkdtemp(prefix="evschema_")
        try:
            (docs.filter(F.col("doc_id") % 2 == 0)
             .select("doc_id")
             .write.mode("overwrite").parquet(d + "/snap=1"))
            (docs.filter(F.col("doc_id") % 2 == 1)
             .select("doc_id",
                     F.length("text").cast("long").alias("quality"))
             .write.mode("overwrite").parquet(d + "/snap=2"))
            merged = (spark.read.option("mergeSchema", "true")
                      .parquet(d))
            out = (merged.groupBy("snap")
                   .agg(F.count("*").alias("n_docs"),
                        F.count("quality").alias("n_quality"),
                        F.sum("quality").alias("sum_quality"))
                   .select(F.col("snap").cast("long").alias("snap"),
                           "n_docs", "n_quality", "sum_quality")
                   .orderBy("snap"))
            rows = out.collect()
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame(rows, out.schema)
    q["io_schema_evolution"] = io_schema_evolution

    def io_compaction(spark, sf):
        """Small-file compaction: the corpus written as 64 tiny
        parquet files (the classic streaming-ingest pathology — at
        100 TB, file-count × footer/task overhead dominates scan cost
        long before bytes do), then compacted 16:1 with one
        round-robin repartition write.  File counts are MEASURED from
        the directory (the oracle pins the expected 64 → 4), and a
        bit_xor content digest over (doc_id, text) proves the rewrite
        lost and duplicated nothing."""
        import glob
        import shutil
        import tempfile

        from nifi_datasynthesizer_spark.phash import h60
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        d = tempfile.mkdtemp(prefix="compact_")
        try:
            docs.repartition(64).write.mode("overwrite") \
                .parquet(d + "/small")
            n_before = len(glob.glob(d + "/small/part-*.parquet"))
            spark.read.parquet(d + "/small").repartition(4) \
                .write.mode("overwrite").parquet(d + "/compact")
            n_after = len(glob.glob(d + "/compact/part-*.parquet"))
            back = spark.read.parquet(d + "/compact")
            sig = h60(F.concat(F.col("doc_id").cast("string"),
                               F.lit(":"), F.col("text")))
            out = back.select(sig.alias("sig")).agg(
                F.lit(n_before).cast("long").alias("n_files_before"),
                F.lit(n_after).cast("long").alias("n_files_after"),
                F.count("*").alias("n_rows"),
                F.expr("bit_xor(sig)").cast("long").alias("digest"))
            rows = out.collect()
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame(rows, out.schema)
    q["io_compaction"] = io_compaction

    def _rg_fixture_run(spark, sf, fn):
        """Build the deterministic three-shape row-group fixture, run
        ``fn(audit_df)`` over its io.rowgroup_audit frame, and return
        the collected result rebuilt as a local DataFrame (the temp
        fixture is gone by the time the driver collects).  Fixture:
        the corpus keyed into 8 ``bucket=N`` partition files (one row
        group each), one ``solid`` single-file export (the pathology:
        every row in one row group → ``oversized``), and one
        ``hot.parquet`` written with row_group_size=100 (pyarrow
        writer, so group boundaries are exact and the oracle computes
        them as ceil/mod arithmetic).  Audit runs distributed:
        binaryFile listing (paths only, content column pruned) + one
        footer decode task per file."""
        import shutil
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq
        docs = _t(spark, sf, "documents").select("doc_id")
        d = tempfile.mkdtemp(prefix="rgaudit_")
        try:
            (docs.withColumn("bucket", F.pmod(F.col("doc_id"), F.lit(8)))
             .repartition(8, "bucket")
             .write.mode("overwrite").partitionBy("bucket")
             .parquet(d + "/buckets"))
            docs.coalesce(1).write.mode("overwrite").parquet(d + "/solid")
            # bounded fixture write (≤ 800 ids), not a data path
            hot_ids = [r.doc_id for r in
                       docs.filter(F.col("doc_id") < 800)
                       .orderBy("doc_id").collect()]
            pq.write_table(
                pa.table({"doc_id": pa.array(hot_ids, pa.int64())}),
                d + "/hot.parquet", row_group_size=100)
            out = fn(IO.rowgroup_audit(spark, d, target_rows=500))
            rows = out.collect()
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return spark.createDataFrame(rows, out.schema)

    def io_rowgroup_audit(spark, sf):
        """Parquet row-group layout audit (io.rowgroup_audit) over the
        three-shape fixture — the operator that encodes the r7 scale
        study's third-decade lesson (scan parallelism is capped by
        row-group count; the 100 TB failure mode is the unsplittable
        file)."""
        def fmt(audit):
            return (audit.withColumn(
                "file",
                F.when(F.col("path").rlike("bucket="),
                       F.regexp_extract("path", r"(bucket=\d+)", 1))
                .when(F.col("path").contains("/solid/"), F.lit("solid"))
                .otherwise(F.lit("hot")))
                .select("file", "n_rowgroups", "n_rows", "min_rg_rows",
                        "max_rg_rows", "oversized")
                .orderBy("file"))
        return _rg_fixture_run(spark, sf, fmt)
    q["io_rowgroup_audit"] = io_rowgroup_audit

    def io_rowgroup_summary(spark, sf):
        """The ONE-ROW effective-parallelism readout
        (io.rowgroup_summary) over the same fixture — the go/no-go
        number a 1000-executor scan reads first: total row groups =
        max scan parallelism, task waves on a 32-slot cluster, the
        single-file hot-spot share, and the oversized-file count.
        Oracle-exact: every aggregate is arithmetic over the
        fixture's deterministic layout."""
        return _rg_fixture_run(
            spark, sf, lambda audit: IO.rowgroup_summary(audit, cores=32))
    q["io_rowgroup_summary"] = io_rowgroup_summary

    def io_partition_prune(spark, sf):
        """Partition-pruned layout: events written partitioned by
        event_type, then a single-type daily rollup read back — the
        scan must touch ONE partition directory (PartitionFilters,
        plan-asserted in tests/test_plans.py).  At 100 TB partition
        pruning is the difference between scanning 1/|types| of the
        data and all of it; the rollup equals the unpartitioned SQL."""
        import shutil
        import tempfile

        from nifi_datasynthesizer_spark.io import read_table
        ev = _t(spark, sf, "events")
        d = tempfile.mkdtemp(prefix="evpart_")
        try:
            (ev.select("event_id", "ts", "user_id", "event_type",
                       F.floor(F.col("value") * 100).cast("long")
                       .alias("cents"))
             .write.mode("overwrite").partitionBy("event_type")
             .parquet(d))
            part = spark.read.parquet(d) \
                .filter(F.col("event_type") == "purchase")
            out = (part.groupBy(F.to_date("ts").alias("day"))
                   .agg(F.count("*").alias("n_events"),
                        F.sum("cents").alias("cents"))
                   .orderBy("day"))
            rows = out.collect()
        finally:
            shutil.rmtree(d, ignore_errors=True)
        # materialized before the temp dir vanishes; rebuild a frame
        # with the same schema for the driver's collect
        return spark.createDataFrame(rows, out.schema)
    q["io_partition_prune"] = io_partition_prune

    def io_column_stats(spark, sf):
        """ANALYZE-style exact per-column statistics (io.column_stats)
        over events in ONE pass: n/nulls/ndv/min/max per column — the
        table a planner (or a human sizing a join) reads before
        touching 100 TB.  Floats quantize to cents first (the repo's
        engine-exactness contract); min/max render as strings so one
        narrow schema covers heterogeneous types."""
        ev = _t(spark, sf, "events").select(
            "event_id", "user_id", "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"))
        return (IO.column_stats(
            ev, ["event_id", "user_id", "event_type", "cents"])
            .orderBy("col"))
    q["io_column_stats"] = io_column_stats

    def io_column_stats_sketch(spark, sf):
        """The wide-audit twin of io_column_stats (r9 verdict "What's
        wrong" #3): ndv via the repo's engine-exact HLL registers
        instead of Spark's expand — the m MAX(CASE) register
        aggregates are map-side partial-combinable, so the whole
        audit is one scan + one single-row shuffle with ZERO row
        multiplication (the exact mode pays #cols× rows inside its
        expand).  DuckDB replays the registers bit-identically, so
        the approximate ndv is still hash-gated, not rows-only."""
        ev = _t(spark, sf, "events").select(
            "event_id", "user_id", "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"))
        return (IO.column_stats(
            ev, ["event_id", "user_id", "event_type", "cents"],
            ndv_mode="sketch")
            .orderBy("col"))
    q["io_column_stats_sketch"] = io_column_stats_sketch

    def events_wau(spark, sf):
        """Rolling 7-day active users: distinct (user, day) pairs
        exploded to contribution days and re-distincted — the
        rolling-distinct problem without a distinct-over-window
        (which can't sum) or an N-way self-join."""
        from nifi_datasynthesizer_spark.operators.temporal import \
            rolling_active_users
        ev = _t(spark, sf, "events")
        return rolling_active_users(ev).orderBy("day")
    q["events_wau"] = events_wau

    def events_histogram(spark, sf):
        """Log2-bucketed value histogram per event type: bucket from
        length(bin(cents)) — engine-exact exponential buckets,
        SUM-combinable counts, one narrow pass + two tiny aggs."""
        from nifi_datasynthesizer_spark.operators.sketches import \
            log_histogram
        return (log_histogram(_t(spark, sf, "events"))
                .orderBy("event_type", "bucket"))
    q["events_histogram"] = events_histogram

    def events_markov_stationary(spark, sf):
        """Stationary distribution of the user-journey Markov chain:
        one user-key shuffle builds the tiny transition matrix, then
        integer-ppm power iteration over the pinned frame."""
        from nifi_datasynthesizer_spark.operators.temporal import \
            markov_stationary
        return (markov_stationary(_t(spark, sf, "events"), iters=10)
                .orderBy("event_type"))
    q["events_markov_stationary"] = events_markov_stationary

    def sketch_cms_eval(spark, sf):
        """CMS error evaluation on an h60 word sample (the light tail
        where collision noise actually lands): exact vs estimate with
        one-sided relative error in ppm — the sketch twin of
        ann_recall_eval before trusting a (depth, width) config."""
        from nifi_datasynthesizer_spark.operators.sketches import \
            cm_error_eval
        return (cm_error_eval(_t(spark, sf, "documents"),
                              sample_mod=101)
                .orderBy("word"))
    q["sketch_cms_eval"] = sketch_cms_eval

    def events_ab_assign(spark, sf):
        """Deterministic experiment analysis: arm = h60(user) % 2 —
        the hash-bucket assignment every production experiment system
        uses (sticky across sessions/retries, no assignment table) —
        with a per-arm readout of exact counts, integer-ppm mean and
        histogram-CDF p50/p90 (scale-proof where naive variance sums
        of squares overflow).  One narrow pass + tiny aggregates."""
        from pyspark.sql import Window
        from nifi_datasynthesizer_spark.phash import h60
        ev = _t(spark, sf, "events").filter(
            F.col("event_type") == "purchase")
        staged = ev.select(
            F.pmod(h60(F.concat(F.col("user_id").cast("string"),
                                F.lit(":ab7"))), F.lit(2)).alias("arm"),
            F.col("user_id").alias("u"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"))
        base = staged.groupBy("arm").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("u").alias("n_users"),
            F.sum("cents").alias("sum_cents"))
        hist = staged.groupBy("arm", "cents").agg(F.count("*").alias("c"))
        cum_w = (Window.partitionBy("arm").orderBy("cents")
                 .rowsBetween(Window.unboundedPreceding,
                              Window.currentRow))
        tot_w = Window.partitionBy("arm")
        qs = (hist.withColumn("cum", F.sum("c").over(cum_w))
              .withColumn("n", F.sum("c").over(tot_w))
              .groupBy("arm")
              .agg(F.min(F.when(F.col("cum") * 100 >= 50 * F.col("n"),
                                F.col("cents"))).alias("p50_cents"),
                   F.min(F.when(F.col("cum") * 100 >= 90 * F.col("n"),
                                F.col("cents"))).alias("p90_cents")))
        return (base.join(qs, "arm")
                .select("arm", "n_events", "n_users", "sum_cents",
                        F.expr("sum_cents * 1000000 div n_events")
                        .cast("long").alias("mean_cents_ppm"),
                        "p50_cents", "p90_cents")
                .orderBy("arm"))
    q["events_ab_assign"] = events_ab_assign

    def events_ab_metrics(spark, sf):
        """The OUTCOME readout on top of events_ab_assign's sticky
        hash arms: per-arm user counts, converter counts (users with
        >= 1 purchase), integer-ppm conversion and events-per-user —
        the lift table every experiment review reads.  One narrow
        pass + two tiny aggregates (user-grain, then arm-grain); the
        arm hash is recomputed per event (stateless — no assignment
        table to join at 100 TB)."""
        from nifi_datasynthesizer_spark.phash import h60
        ev = _t(spark, sf, "events")
        staged = ev.select(
            F.pmod(h60(F.concat(F.col("user_id").cast("string"),
                                F.lit(":ab7"))), F.lit(2)).alias("arm"),
            F.col("user_id").alias("u"),
            (F.col("event_type") == "purchase").cast("long").alias("pur"),
            F.when(F.col("event_type") == "purchase",
                   F.floor(F.col("value") * 100).cast("long"))
            .otherwise(F.lit(0)).alias("pur_cents"))
        per_user = (staged.groupBy("arm", "u")
                    .agg(F.count("*").alias("n_ev"),
                         F.sum("pur").alias("n_pur"),
                         F.sum("pur_cents").alias("cents")))
        return (per_user.groupBy("arm")
                .agg(F.sum("n_ev").alias("n_events"),
                     F.count("*").alias("n_users"),
                     F.sum((F.col("n_pur") > 0).cast("long"))
                     .alias("n_converters"),
                     F.sum("cents").alias("purchase_cents"))
                .select("arm", "n_events", "n_users", "n_converters",
                        F.expr("n_converters * 1000000 div n_users")
                        .cast("long").alias("conversion_ppm"),
                        F.expr("n_events * 1000000 div n_users")
                        .cast("long").alias("events_per_user_ppm"),
                        "purchase_cents")
                .orderBy("arm"))
    q["events_ab_metrics"] = events_ab_metrics

    def events_ab_srm(spark, sf):
        """Sample-ratio-mismatch guardrail (the FIRST check any
        experiment readout runs: a skewed assignment invalidates the
        whole A/B test): users hash into 4 arms, per-arm distinct-user
        counts against the uniform expectation, chi-square computed in
        PURE INTEGER arithmetic — with a uniform split the statistic
        is sum((k*n_i - N)^2) / (k*N), one exact integer ratio floored
        at 1e-6, so both engines agree bit-for-bit (no doubles, no
        libm).  srm_flag fires above the df=3, p=0.001 critical value
        (16.266).  The chi-square lives in temporal.srm_report, which
        fails LOUD past its int64 q6-scaling bound (r11 — the overflow
        cliff used to be documentation; now it is an in-plan
        raise_error, boundary unit-tested)."""
        from nifi_datasynthesizer_spark.operators.temporal import \
            srm_report
        from nifi_datasynthesizer_spark.phash import h60
        k = 4
        counts = (_t(spark, sf, "events")
                  .select("user_id").distinct()
                  .select(F.pmod(h60(F.concat(
                      F.col("user_id").cast("string"),
                      F.lit(":srm"))), F.lit(k)).alias("arm"))
                  .groupBy("arm").agg(F.count("*").alias("n_arm")))
        return srm_report(counts, k)
    q["events_ab_srm"] = events_ab_srm

    def events_cohort_ltv(spark, sf):
        """Cohort LTV matrix: day-0 cohorts × days-since-signup
        revenue with cumulative per-user value — the monetary twin
        of retention; cumsum runs over the tiny cell frame."""
        from nifi_datasynthesizer_spark.operators.temporal import \
            cohort_ltv
        return (cohort_ltv(_t(spark, sf, "events"))
                .orderBy("cohort_day", "age_days"))
    q["events_cohort_ltv"] = events_cohort_ltv

    def events_rfm(spark, sf):
        """RFM segmentation, quintiles by histogram-CDF — one event
        aggregate, tiny per-value CDFs, boundaries broadcast as one
        row, scores as narrow comparisons (no ntile global sort)."""
        from nifi_datasynthesizer_spark.operators.temporal import \
            rfm_segments
        ev = _t(spark, sf, "events")
        return rfm_segments(ev).orderBy("user_id")
    q["events_rfm"] = events_rfm

    def corpus_upsample(spark, sf):
        """Deterministic fractional up-sampling (epoch repetition):
        CASE-chain factors, h60 draw for the fractional copy, narrow
        posexplode replication — one scan, no shuffle."""
        from nifi_datasynthesizer_spark.operators.curation import \
            corpus_upsample
        docs = _t(spark, sf, "documents")
        factors = {"src0": 2.5, "src1": 3.0, "src2": 0.5}
        return (corpus_upsample(docs, factors)
                .orderBy("doc_id", "copy_idx"))
    q["corpus_upsample"] = corpus_upsample

    def events_daily(spark, sf):
        ev = _t(spark, sf, "events")
        return (ev.groupBy(F.to_date("ts").alias("day"), "event_type")
                .agg(F.count("*").alias("n_events"),
                     # integer-cents sum: exact under any summation order
                     (F.sum(F.floor(F.col("value") * 100).cast("long"))
                      / F.lit(100.0)).alias("total_value"),
                     F.approx_count_distinct("user_id").alias("approx_users"))
                .drop("approx_users")  # approx differs per engine; keep exact cols
                .orderBy("day", "event_type"))
    q["events_daily"] = events_daily

    def events_sessionize(spark, sf):
        from pyspark.sql import Window
        ev = _t(spark, sf, "events").select(
            "user_id", "event_id", F.unix_micros("ts").alias("tus"),
            # quantize to integer cents pre-agg: float summation order
            # differs across engines/partitionings, integer sums don't
            F.floor(F.col("value") * 100).cast("long").alias("cents"))
        w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        gap = F.col("tus") - F.lag("tus").over(w)
        is_new = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
        wc = (Window.partitionBy("user_id").orderBy("tus", "event_id")
              .rowsBetween(Window.unboundedPreceding, 0))
        s = (ev.withColumn("__new", is_new)
             .withColumn("session_idx", F.sum("__new").over(wc)))
        return (s.groupBy("user_id", "session_idx")
                .agg(F.count("*").alias("n_events"),
                     F.min("tus").alias("session_start_us"),
                     F.max("tus").alias("session_end_us"),
                     (F.max("tus") - F.min("tus")).alias("duration_us"),
                     (F.sum("cents") / F.lit(100.0)).alias("total_value"))
                .orderBy("user_id", "session_idx"))
    q["events_sessionize"] = events_sessionize

    def events_retention(spark, sf):
        ev = _t(spark, sf, "events").select(
            "user_id", F.to_date("ts").alias("day")).distinct()
        cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort"))
        j = ev.join(cohort, "user_id")
        return (j.groupBy("cohort",
                          F.datediff("day", "cohort").alias("day_offset"))
                .agg(F.countDistinct("user_id").alias("active_users"))
                .orderBy("cohort", "day_offset"))
    q["events_retention"] = events_retention

    def events_asof_balance(spark, sf):
        """As-of (point-in-time) join: each event picks up the most
        recent prior noon balance snapshot of its user — the classic
        'dimension as of event time' shape Spark lacks natively."""
        from nifi_datasynthesizer_spark.operators.temporal import asof_join
        ev = _t(spark, sf, "events").select(
            "user_id", "event_id",
            F.expr("unix_micros(ts) div 1000000").alias("tsec"), "value")
        snaps = (ev.groupBy("user_id",
                            F.expr("tsec div 86400").alias("day"))
                 .agg((F.sum(F.floor(F.col("value") * 100).cast("long"))
                       / F.lit(100.0)).alias("balance"))
                 .select("user_id",
                         (F.col("day") * 86400 + 43200).alias("tsec"),
                         "balance"))
        out = asof_join(ev, snaps, on="user_id", ts="tsec")
        return (out.select("user_id", "event_id", "tsec", "value",
                           F.coalesce("balance_asof", F.lit(-1.0))
                           .alias("balance_asof"))
                .orderBy("event_id"))
    q["events_asof_balance"] = events_asof_balance

    def events_range_windows(spark, sf):
        """Range join: events matched into [day-start, day-start+6h)
        maintenance windows of their event_type via bucketed interval
        explode + equi-join (no inequality-join cartesian)."""
        from nifi_datasynthesizer_spark.operators.temporal import range_join
        ev = _t(spark, sf, "events").select(
            "event_id", "event_type",
            F.expr("unix_micros(ts) div 1000000").alias("tsec"))
        wins = (ev.select("event_type",
                          (F.expr("tsec div 86400") * 86400).alias("ws"))
                .distinct()
                .withColumn("we", F.col("ws") + 21600))
        out = range_join(ev, wins, ts="tsec", start="ws", end="we",
                         bucket_width=3600, on="event_type")
        return (out.select("event_id", "event_type", "tsec", "ws", "we")
                .orderBy("event_id"))
    q["events_range_windows"] = events_range_windows

    def events_salted_join(spark, sf):
        """Skew-resistant join: event_type is the canonical hot key
        (a handful of values across every row); the salted join spreads
        each type over 8 sub-keys.  Result equals the plain join — the
        oracle IS the plain join."""
        from nifi_datasynthesizer_spark.operators.skew import salted_join
        ev = _t(spark, sf, "events").select("event_id", "event_type", "value")
        dim = (ev.groupBy("event_type")
               .agg(F.count("*").alias("n_type"),
                    F.round(F.avg("value"), 2).alias("type_avg")))
        out = salted_join(ev, dim, key="event_type", salt_col="event_id",
                          salt=8)
        return (out.select("event_id", "event_type", "value",
                           "n_type", "type_avg")
                .orderBy("event_id"))
    q["events_salted_join"] = events_salted_join

    def media_resize(spark, sf):
        media = MM.synth_media(spark, n=300, seed=18)
        return _psort(
            MM.resize_images(media, width=256, height=256)
            .select("media_id", "kind", "mime", "width", "height",
                    "duration_ms"), "media_id")
    q["media_resize"] = media_resize

    def streaming_events_daily(spark, sf):
        """Streaming path under the correctness gate: the events table
        replayed as a file stream (one file per micro-batch) through
        the watermarked windowed-agg operator, drained to completion —
        the final table equals the batch daily rollup, so the same SQL
        oracle applies."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        src = ST.file_stream(spark, sf, raw_schema,
                             glob_filter="events.parquet")
        ev = IO.normalize_event_ts(src)
        agg = ST.windowed_agg(
            ev, "ts", ["event_type"],
            [F.count("*").alias("n_events"),
             # integer-cents sum: exact under any micro-batch order
             F.sum(F.floor(F.col("value") * 100).cast("long"))
             .alias("sum_cents")],
            window="1 day", watermark="0 seconds")
        out = ST.run_bounded(agg, "stream_events_daily")
        return (out.select(F.to_date("win_start").alias("day"), "event_type",
                           "n_events",
                           (F.col("sum_cents") / F.lit(100.0))
                           .alias("total_value"))
                .orderBy("day", "event_type"))
    q["streaming_events_daily"] = _stream_tuned(streaming_events_daily)

    def streaming_sessionize(spark, sf):
        """Native session windows (F.session_window, gap-merged state)
        over the replayed events stream, drained to completion.  The
        batch mirror is gap-based sessionization; the boundary rule
        differs — session_window opens a NEW session when the gap is
        exactly equal to the gap duration (intervals are half-open), so
        the oracle uses >= where the batch lag-rule query uses >."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        src = ST.file_stream(spark, sf, raw_schema,
                             glob_filter="events.parquet")
        ev = IO.normalize_event_ts(src)
        agg = ST.sessionized_agg(
            ev, "ts", ["user_id"],
            [F.count("*").alias("n_events"),
             # integer-cents sum: exact under any micro-batch order
             F.sum(F.floor(F.col("value") * 100).cast("long"))
             .alias("sum_cents")],
            gap="30 minutes", watermark="0 seconds")
        out = ST.run_bounded(agg, "stream_sessionize")
        return (out.select("user_id",
                           F.unix_micros(F.col("sess.start"))
                           .alias("session_start_us"),
                           "n_events",
                           (F.col("sum_cents") / F.lit(100.0))
                           .alias("total_value"))
                .orderBy("user_id", "session_start_us"))
    q["streaming_sessionize"] = _stream_tuned(streaming_sessionize)

    def streaming_enrich_nation(spark, sf):
        """Stream-static broadcast join: the replayed events stream is
        enriched with the customer dimension (hash-mapped user_id →
        c_custkey so every event hits) and rolled up per nation.  The
        dim side is broadcast — each micro-batch joins map-side, no
        stream-side shuffle before the aggregation.  Values quantize
        to integer cents pre-agg so the sum is exact across engines."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
        n_cust = cust.count()
        src = ST.file_stream(spark, sf, raw_schema,
                             glob_filter="events.parquet")
        ev = src.select(
            (F.col("user_id") % F.lit(n_cust) + 1).alias("ck"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"))
        joined = ev.join(F.broadcast(cust), ev.ck == cust.c_custkey)
        agg = (joined.groupBy("c_nationkey")
               .agg(F.count("*").alias("n_events"),
                    F.sum("cents").alias("sum_cents")))
        out = ST.run_bounded(agg, "stream_enrich_nation")
        return (out.select("c_nationkey", "n_events",
                           (F.col("sum_cents") / F.lit(100.0))
                           .alias("total_value"))
                .orderBy("c_nationkey"))
    q["streaming_enrich_nation"] = _stream_tuned(streaming_enrich_nation)

    def streaming_dedup_docs(spark, sf):
        """Streaming exact dedup (dropDuplicatesWithinWatermark) over
        the documents table replayed as a stream.  Which doc_id
        survives inside a micro-batch is partition-order-dependent, so
        the gated output is the surviving digest SET (deterministic);
        the oracle is the batch distinct over the same digest."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "documents")
        src = ST.file_stream(spark, sf, raw_schema,
                             glob_filter="documents.parquet")
        # offset off epoch: a row AT the initial watermark (epoch 0)
        # would be discarded as late before the dedup state sees it
        ev = src.withColumn(
            "event_time",
            F.timestamp_micros(F.col("doc_id") + F.lit(86_400_000_000)))
        kept = ST.dedup_stream_exact(ev, "event_time", watermark="1 hour")
        q_ = ST.run_to_memory(kept.select("digest"), "stream_dedup_docs",
                              output_mode="append")
        try:
            q_.awaitTermination()
        finally:
            q_.stop()
        return (spark.table("stream_dedup_docs").select("digest")
                .distinct().orderBy("digest"))
    q["streaming_dedup_docs"] = _stream_tuned(streaming_dedup_docs)

    def streaming_topk(spark, sf):
        """Streaming heavy hitters under the oracle gate: exact
        per-(event_type, user) counters in applyInPandasWithState
        (composite-key state, one shuffle), drained bounded, then a
        batch top-k window over the final states — the per-segment
        most-active-users report, equal to the batch GROUP BY +
        rank.  Counts are monotone so the final state is the max-n
        update-mode row per key."""
        from pyspark.sql import Window as W
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        src = ST.file_stream(spark, sf, raw_schema,
                             glob_filter="events.parquet")
        out = ST.key_counts(src, "event_type", "user_id")
        q_ = ST.run_to_memory(out, "stream_topk", output_mode="update")
        try:
            q_.awaitTermination()
        finally:
            q_.stop()
        tbl = spark.table("stream_topk")
        final = (tbl.groupBy("k1", "k2").agg(F.max("n").alias("n")))
        w = W.partitionBy("k1").orderBy(F.desc("n"), F.asc("k2"))
        return (final.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 5)
                .select(F.col("k1").alias("event_type"),
                        F.col("k2").alias("user_id"),
                        F.col("n").alias("n_events"), "rank")
                .orderBy("event_type", "rank"))
    q["streaming_topk"] = _stream_tuned(streaming_topk)

    def streaming_key_counts_native(spark, sf):
        """Per-(event_type, user) exact counters as a JVM-NATIVE
        streaming aggregate (streaming.key_counts_native) — the
        production shape for plain counters per the measured
        3.8-18.5× Arrow-boundary rule; streaming_topk keeps the
        applyInPandasWithState twin as the custom-state template.
        Update-mode output may hold one row per key per micro-batch;
        n is monotone per key, so the final state is the max-n row —
        which is what lets the drained stream carry the batch
        GROUP BY oracle."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        src = ST.file_stream(spark, sf, raw_schema,
                             glob_filter="events.parquet")
        out = ST.key_counts_native(src, "event_type", "user_id")
        q_ = ST.run_to_memory(out, "stream_key_counts_native",
                              output_mode="update")
        try:
            q_.awaitTermination()
        finally:
            q_.stop()
        tbl = spark.table("stream_key_counts_native")
        final = tbl.groupBy("k1", "k2").agg(F.max("n").alias("n"))
        return (final.select(F.col("k1").alias("event_type"),
                             F.col("k2").alias("user_id"),
                             F.col("n").alias("n_events"))
                .orderBy("event_type", "user_id"))
    q["streaming_key_counts_native"] = _stream_tuned(
        streaming_key_counts_native)

    def streaming_running_totals(spark, sf):
        """Per-user running sum/count over the replayed events stream
        as a JVM-NATIVE streaming aggregate (r8 migration, per the
        measured 18.5× rule in streaming.running_totals_native's
        docstring: sums/counts are native aggregates — state in the
        JVM store, no Arrow boundary).  Values are quantized to
        integer cents BEFORE the stateful sum so accumulation is
        exact and order-independent; update-mode output may hold one
        row per key per micro-batch — the final state is the row with
        the largest n (n is monotone per key)."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        src = ST.file_stream(spark, sf, raw_schema,
                             glob_filter="events.parquet")
        ev = src.select(
            F.col("user_id").cast("string").alias("user_id"),
            F.floor(F.col("value") * 100).cast("double").alias("cents"))
        out = ST.running_totals_native(ev, "user_id", "cents")
        q_ = ST.run_to_memory(out, "stream_running_totals",
                              output_mode="update")
        try:
            q_.awaitTermination()
        finally:
            q_.stop()
        tbl = spark.table("stream_running_totals")
        final = tbl.groupBy("key").agg(
            F.max(F.struct("n", "total")).alias("s"))
        return (final.select(F.col("key").alias("user_id"),
                             F.col("s.n").alias("n_events"),
                             (F.col("s.total") / F.lit(100.0))
                             .alias("total_value"))
                .orderBy("user_id"))
    q["streaming_running_totals"] = _stream_tuned(streaming_running_totals)

    def streaming_running_totals_pandas(spark, sf):
        """The applyInPandasWithState twin of streaming_running_totals
        — kept as the registry's custom-state TEMPLATE (the shape for
        per-key transitions Spark cannot express as a native
        aggregate), under the same oracle.  Same quantize-to-cents
        exactness contract; same max-n final-state selection."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        src = ST.file_stream(spark, sf, raw_schema,
                             glob_filter="events.parquet")
        ev = src.select(
            F.col("user_id").cast("string").alias("user_id"),
            F.floor(F.col("value") * 100).cast("double").alias("cents"))
        out = ST.running_totals(ev, "user_id", "cents")
        q_ = ST.run_to_memory(out, "stream_running_totals_pd",
                              output_mode="update")
        try:
            q_.awaitTermination()
        finally:
            q_.stop()
        tbl = spark.table("stream_running_totals_pd")
        final = tbl.groupBy("key").agg(
            F.max(F.struct("n", "total")).alias("s"))
        return (final.select(F.col("key").alias("user_id"),
                             F.col("s.n").alias("n_events"),
                             (F.col("s.total") / F.lit(100.0))
                             .alias("total_value"))
                .orderBy("user_id"))
    q["streaming_running_totals_pandas"] = _stream_tuned(
        streaming_running_totals_pandas)

    # ---- schema-driven synthesis (the reference's core capability)
    def synth_basic(spark, sf):
        return compile_schema(SYNTH_BASIC_SCHEMA, seed=1).dataframe(spark, SYNTH_N)
    q["synth_basic"] = synth_basic

    def synth_identifiers(spark, sf):
        return compile_schema(SYNTH_IDENT_SCHEMA, seed=2).dataframe(spark, SYNTH_N)
    q["synth_identifiers"] = synth_identifiers

    def synth_phone_numbers(spark, sf):
        return SZ.phone_numbers(SYNTH_N, area_code=555, seed=3).df(spark)
    q["synth_phone_numbers"] = synth_phone_numbers

    def synth_text_messages(spark, sf):
        return SZ.text_messages(SYNTH_N, words=12, seed=4).df(spark)
    q["synth_text_messages"] = synth_text_messages

    def synth_text_blocks(spark, sf):
        return SZ.text_blocks(SYNTH_N, words=40, seed=13).df(spark)
    q["synth_text_blocks"] = synth_text_blocks

    def remove_path(spark, sf):
        schema = [{"name": "rec_id", "class": "id"},
                  {"name": "meta", "class": "map", "value": [
                      {"name": "level", "class": "int", "min": 1, "max": 6},
                      {"name": "code", "class": "word"},
                      {"name": "tag", "class": "word"}]}]
        df = compile_schema(schema, seed=14).dataframe(spark, SYNTH_N)
        pruned = SZ.remove_record_path(df, "meta.code")
        return pruned.select("rec_id", F.col("meta.level").alias("level"),
                             F.col("meta.tag").alias("tag"))
    q["remove_path"] = remove_path

    def synth_markov_text(spark, sf):
        # n/words sized so the DuckDB list_reduce replay stays cheap
        return SZ.markov_text(5000, words=16, seed=5).df(spark)
    q["synth_markov_text"] = synth_markov_text

    def synth_markov_sms(spark, sf):
        # TextMessage.java parity: produceText char-budget message
        return SZ.text_messages(2000, source_area=212, words=20, seed=6,
                                markov_chars=80).df(spark)
    q["synth_markov_sms"] = synth_markov_sms

    def synth_transactions(spark, sf):
        return SZ.transactions_df(spark, n_people=2000, max_tx=5,
                                  n_terminals=100, invalid_rate=0.05, seed=5)
    q["synth_transactions"] = synth_transactions

    def synth_iot(spark, sf):
        return SZ.iot_data_flat(n_devices=200, readings=50, seed=6).df(spark)
    q["synth_iot"] = synth_iot

    def synth_commuter(spark, sf):
        """Commuter simulation under the oracle gate via its
        deterministic invariants: the applyInPandas sim must produce
        exactly the (driver, trip) grid with 30 points spaced 30 s
        apart per 12 h trip, ONE sticky home zip per driver, and every
        speed inside the model's [0, 90] clip — all independent of the
        per-driver RNG stream, so DuckDB can compute the expected
        table from pure ranges.  The full RNG-valued trace stays
        exposed as synth_commuter_trace (rows-only) and is covered by
        the vectorization-bit-exactness unit tests."""
        sim = SZ.commuter_data(spark, n_drivers=20, trips=4,
                               points_per_trip=30, seed=7)
        return (sim.groupBy("driver_id", "trip")
                .agg(F.count("*").alias("n_points"),
                     F.min("t_offset_s").alias("min_off"),
                     F.max("t_offset_s").alias("max_off"),
                     F.sum(F.when(F.col("mph").between(0.0, 90.0), 1)
                           .otherwise(0)).alias("n_mph_ok"),
                     F.countDistinct("home_zip").alias("n_zip"))
                .orderBy("driver_id", "trip"))
    q["synth_commuter"] = synth_commuter

    def synth_commuter_trace(spark, sf):
        """The full RNG-valued trace stays rows-only (numpy PCG64 is
        not SQL-expressible) — its hash-level coverage is the digest
        twin below plus the vectorization-bit-exactness unit tests."""
        return SZ.commuter_data(spark, n_drivers=20, trips=4,
                                points_per_trip=30, seed=7)
    q["synth_commuter_trace"] = synth_commuter_trace

    def synth_commuter_digest(spark, sf):
        """Hash-level gate for the RNG-valued trace (r9 verdict item
        4): per-(driver, trip) digest — row count, first/last GPS
        point at 1e-6 quantization, integer mph sum — compared against
        the SAME numpy kernel run once single-process at oracle-
        generation time (oracles.commuter_digest_sql).  The gate
        verifies the distributed path reproduces the local run
        bit-exactly: grouping completeness, bucket-invariant RNG
        streams, Arrow round-trip fidelity.  All projections are
        order-free integers, so shuffle order cannot flip a bit."""
        sim = SZ.commuter_data(spark, n_drivers=20, trips=4,
                               points_per_trip=30, seed=7)
        agg = (sim.groupBy("driver_id", "trip").agg(
            F.count("*").alias("n_points"),
            F.min(F.struct("t_offset_s", "lat", "lon")).alias("f"),
            F.max(F.struct("t_offset_s", "lat", "lon")).alias("l"),
            F.sum(F.round(F.col("mph") * 1000).cast("long"))
            .alias("sum_mph_milli")))
        return (agg.select(
            F.col("driver_id").cast("long").alias("driver_id"),
            F.col("trip").cast("long").alias("trip"),
            F.col("n_points").cast("long").alias("n_points"),
            F.floor(F.col("f.lat") * 1e6).cast("long")
            .alias("first_lat_u"),
            F.floor(F.col("f.lon") * 1e6).cast("long")
            .alias("first_lon_u"),
            F.floor(F.col("l.lat") * 1e6).cast("long")
            .alias("last_lat_u"),
            F.floor(F.col("l.lon") * 1e6).cast("long")
            .alias("last_lon_u"),
            F.col("sum_mph_milli").cast("long").alias("sum_mph_milli"))
            .orderBy("driver_id", "trip"))
    q["synth_commuter_digest"] = synth_commuter_digest

    def synth_exotic_scalar(spark, sf):
        return compile_schema(SYNTH_EXOTIC_SCALAR_SCHEMA,
                              seed=11).dataframe(spark, SYNTH_N)
    q["synth_exotic_scalar"] = synth_exotic_scalar

    def synth_exotic_nested(spark, sf):
        df = compile_schema(SYNTH_EXOTIC_NESTED_SCHEMA,
                            seed=11).dataframe(spark, SYNTH_N)
        return df.select(
            "rec_id",
            _arr_str(F.col("tags")).alias("tags"),
            "tag_line",
            _arr_ppm(F.col("vec")).alias("vec"),
            _arr_str(F.col("grid")).alias("grid"))
    q["synth_exotic_nested"] = synth_exotic_nested

    def synth_vehicle_commuter(spark, sf):
        schema = [{"name": "rec_id", "class": "id"},
                  {"class": "vehicle", "years": "1995-2010"},
                  {"class": "commuter", "maxTrips": 4}]
        df = compile_schema(schema, seed=15).dataframe(spark, 5000)
        return df.select(
            *[c for c in df.columns
              if c not in ("trip_start", "trip_km", "trip_minutes")],
            _arr_str(F.col("trip_start")).alias("trip_start"),
            _arr_ppm(F.col("trip_km")).alias("trip_km"),
            _arr_ppm(F.col("trip_minutes")).alias("trip_minutes"))
    q["synth_vehicle_commuter"] = synth_vehicle_commuter

    def synth_net(spark, sf):
        return compile_schema(SYNTH_NET_SCHEMA, seed=16).dataframe(spark, 10_000)
    q["synth_net"] = synth_net

    def synth_registry(spark, sf):
        """DataGenerator controller service under the gate: schemas are
        registered by name and generated through the registry — the
        NiFi pattern of many processors sharing one service."""
        from nifi_datasynthesizer_spark.schema import SchemaRegistry
        reg = SchemaRegistry()
        reg.define("orders_lite", [
            {"name": "order_id", "class": "id"},
            {"name": "cust", "class": "foreign-key", "size": 300, "skew": 1},
            {"name": "amount", "class": "double", "min": 5, "max": 500},
            {"name": "status", "class": "string",
             "dist": {"open": 2, "shipped": 5, "returned": 1}}], seed=17)
        return reg.generate(spark, "orders_lite", SYNTH_N)
    q["synth_registry"] = synth_registry

    def synth_cpoc(spark, sf):
        return SZ.cpoc_events(spark, n_users=1000, max_tx=16, seed=12)
    q["synth_cpoc"] = synth_cpoc

    def synth_weblog(spark, sf):
        """LogGenerator.java family: correlated web/query logs — per
        user sticky cookie/IP/geo, Poisson-ish sessions, Pitman–Yor
        long-tail query terms, slow-word response times."""
        return SZ.weblog(n_users=500, events_per_user=20, seed=19).df(spark)
    q["synth_weblog"] = synth_weblog

    def synth_purchases(spark, sf):
        """PurchaseLog.java: web purchase logs — sticky user profiles,
        exponential session lengths (grid + mask, no explode), window
        cumsum hit times, campaign/keyword-boosted purchase events."""
        return SZ.purchase_log(n_users=300, max_hits=128, seed=23).df(spark)
    q["synth_purchases"] = synth_purchases

    def synth_weblog_lines(spark, sf):
        """LogLineFormatter.java CSV-format parity: each weblog record
        rendered as the reference's text line
        ``t(3dp),cookie,ip,"query",resp_ms(1dp)`` — the role NiFi's
        record writer plays, with the decimal formatting done in
        integer arithmetic so both engines render identical strings.
        A half-unit bias before each integer div reproduces printf's
        %.3f/%.1f HALF_UP rounding (plain truncation renders boundary
        values like 0.05-ms units differently from the reference),
        and the carry into the integer digit falls out of the same
        div/mod pair."""
        w = SZ.weblog(n_users=200, events_per_user=10, seed=19).df(spark)
        t_str = F.expr(
            "concat(CAST((t_us + 500) div 1000000 AS STRING), '.', "
            "lpad(CAST(((t_us + 500) div 1000) % 1000 AS STRING), 3, '0'))")
        resp_str = F.expr(
            "concat(CAST((response_us + 50) div 1000 AS STRING), '.', "
            "CAST(((response_us + 50) div 100) % 10 AS STRING))")
        line = F.concat_ws(
            ",", t_str, F.col("cookie"), F.col("ip"),
            F.concat(F.lit('"'), F.col("query"), F.lit('"')), resp_str)
        return (w.select("line_id", line.alias("log_line"))
                .orderBy("line_id"))
    q["synth_weblog_lines"] = synth_weblog_lines

    def synth_correlate(spark, sf):
        cust = _t(spark, sf, "customer")
        schema = [{"name": "risk_score", "class": "int", "min": 300, "max": 850},
                  {"name": "tier", "class": "string",
                   "dist": {"gold": 1, "silver": 3, "bronze": 6}}]
        return SZ.correlate(cust, schema, "c_custkey", universe=1000, seed=8)
    q["synth_correlate"] = synth_correlate

    def synth_correlate_pair(spark, sf):
        cust = _t(spark, sf, "customer").select("c_custkey", "c_name",
                                                "c_nationkey")
        schema_a = [{"name": "risk_score", "class": "int",
                     "min": 300, "max": 850}]
        schema_b = [{"name": "churn_p", "class": "double",
                     "min": 0.0, "max": 1.0},
                    {"name": "plan", "class": "string",
                     "dist": {"basic": 5, "plus": 3, "max": 1}}]
        return SZ.correlate_pair(cust, schema_a, schema_b, "c_custkey",
                                 universe=800, seed=21)
    q["synth_correlate_pair"] = synth_correlate_pair

    # ---- dedup family
    def dedup_exact(spark, sf):
        return (DD.dedup_exact(_t(spark, sf, "documents"))
                .orderBy("digest"))
    q["dedup_exact"] = dedup_exact

    def dedup_exact_keep(spark, sf):
        return DD.dedup_exact_keep(_t(spark, sf, "documents")).orderBy("doc_id")
    q["dedup_exact_keep"] = dedup_exact_keep

    def dedup_minhash(spark, sf):
        return (DD.dedup_minhash(_t(spark, sf, "documents"),
                                 num_hashes=64, bands=16,
                                 jaccard_threshold=0.5)
                .orderBy("a", "b"))
    q["dedup_minhash"] = dedup_minhash

    def dedup_simhash(spark, sf):
        return (DD.dedup_simhash(_t(spark, sf, "documents"), hamming_max=3)
                .orderBy("a", "b"))
    q["dedup_simhash"] = dedup_simhash

    def dedup_ngram_jaccard(spark, sf):
        return (DD.ngram_jaccard_pairs(_t(spark, sf, "documents"),
                                       n=3, threshold=0.4)
                .orderBy("a", "b"))
    q["dedup_ngram_jaccard"] = dedup_ngram_jaccard

    def dedup_agreement(spark, sf):
        """Ensemble dedup governance: every pair flagged by ANY of
        minhash/simhash/ngram-jaccard with per-method flags and the
        agreement count — two FULL joins over pair-sized frames."""
        return (DD.dedup_agreement(_t(spark, sf, "documents"))
                .orderBy("a", "b"))
    q["dedup_agreement"] = dedup_agreement

    def dedup_groups(spark, sf):
        pairs = DD.dedup_minhash(_t(spark, sf, "documents"),
                                 num_hashes=64, bands=16,
                                 jaccard_threshold=0.5)
        return DD.dup_groups(pairs).orderBy("doc_id")
    q["dedup_groups"] = dedup_groups

    def dedup_threshold_sweep(spark, sf):
        """Threshold tuning curve: pairs surviving each candidate
        Jaccard threshold from ONE low-floor detector pass —
        match-count histogram + descending cumulative."""
        return DD.threshold_sweep(_t(spark, sf, "documents"),
                                  min_threshold=0.3)
    q["dedup_threshold_sweep"] = dedup_threshold_sweep

    def dedup_minhash_eval(spark, sf):
        """Precision/recall/F1 of the MinHash-LSH detector vs exact
        shingle-Jaccard truth on a deterministic sample — detector
        governance before trusting a config on the next batch; truth
        cost bounded by the sample BY DESIGN."""
        return DD.minhash_eval(_t(spark, sf, "documents"),
                               sample_mod=2, jaccard_threshold=0.5)
    q["dedup_minhash_eval"] = dedup_minhash_eval

    def corpus_interleave(spark, sf):
        """Deterministic round-robin source striping (the 'streaming
        mixture' training order): two-level (source, hash-shard) rank
        + broadcast shard prefix-sums — shards×sources parallelism,
        never a per-source global window."""
        from nifi_datasynthesizer_spark.operators.curation import \
            interleave_sources
        return (interleave_sources(_t(spark, sf, "documents"), shards=32)
                .orderBy("pos"))
    q["corpus_interleave"] = corpus_interleave

    def corpus_span_corruption(spark, sf):
        """T5-style denoising example construction: deterministic
        word masking, runs collapsed to sentinels in the input,
        sentinel-prefixed spans as the target — one narrow per-row
        array pass, corpus never exploded or shuffled."""
        from nifi_datasynthesizer_spark.operators.curation import \
            span_corruption
        return _psort(span_corruption(_t(spark, sf, "documents")),
                      "doc_id")
    q["corpus_span_corruption"] = corpus_span_corruption

    def corpus_fim(spark, sf):
        """Fill-in-the-middle example construction (PSM order):
        deterministic cut points, per-row array slicing — one narrow
        pass, no explode, no shuffle."""
        from nifi_datasynthesizer_spark.operators.curation import \
            fim_transform
        return _psort(fim_transform(_t(spark, sf, "documents")),
                      "doc_id")
    q["corpus_fim"] = corpus_fim

    def corpus_weighted_sample(spark, sf):
        """Priority sampling (Duffield et al.): deterministic
        weighted sample-without-replacement, P(keep) rising with
        token count — narrow priority pass + TakeOrdered partial
        top-k, never a global sort shuffle."""
        from nifi_datasynthesizer_spark.operators.curation import \
            weighted_sample
        return weighted_sample(_t(spark, sf, "documents"), k=100)
    q["corpus_weighted_sample"] = corpus_weighted_sample

    def corpus_dedup_report(spark, sf):
        """Dedup impact report: cluster-size distribution + exact
        docs/tokens-saved accounting over the minhash near-dup graph
        — the governance read before a 100 TB dedup deletes anything."""
        docs = _t(spark, sf, "documents")
        pairs = DD.dedup_minhash(docs, num_hashes=64, bands=16,
                                 jaccard_threshold=0.5)
        return DD.dedup_report(docs, pairs).orderBy("cluster_size")
    q["corpus_dedup_report"] = corpus_dedup_report

    def dedup_cross(spark, sf):
        """Incremental dedup: the 'incoming batch' (doc_id % 7 = 0)
        near-dup-checked against the remaining corpus — candidate
        volume scales with the batch, never corpus²."""
        docs = _t(spark, sf, "documents")
        incoming = docs.filter(F.col("doc_id") % 7 == 0)
        corpus = docs.filter(F.col("doc_id") % 7 != 0)
        return (DD.dedup_minhash_cross(incoming, corpus,
                                       num_hashes=64, bands=16,
                                       jaccard_threshold=0.5)
                .orderBy("a", "b"))
    q["dedup_cross"] = dedup_cross

    def dedup_containment(spark, sf):
        """Asymmetric containment pairs (quote/boilerplate subsets that
        Jaccard misses): df-capped shingle postings join, integer-ppm
        scores."""
        return (DD.containment_pairs(_t(spark, sf, "documents"),
                                     n=3, threshold=0.8, df_cap=64)
                .orderBy("a", "b"))
    q["dedup_containment"] = dedup_containment

    def dedup_fuzzy(spark, sf):
        """Edit-distance near-dup pairs (typo/OCR-level corruption
        shingle methods miss): blocked Levenshtein, integer-ppm
        distance of the longer string."""
        return (DD.fuzzy_pairs(_t(spark, sf, "documents"),
                               max_dist_ppm=300_000)
                .orderBy("a", "b"))
    q["dedup_fuzzy"] = dedup_fuzzy

    def _emb_planted(spark, sf):
        """Embeddings corpus + 10 planted near-duplicates (oracle
        mirror: oracles.PLANTED_EMBEDDINGS): the 10 lowest vec_ids
        re-enter shifted +1,000,000 with every component DOUBLED —
        a power-of-two scale is exact in binary FP and commutes with
        L2 normalization, so each planted row normalizes bit-identical
        to its source (cosine exactly 1.0, same hyperplane signature,
        same bucket at any bit count).  The isotropic synthetic corpus
        has no organic pairs at 0.95, so without planting the
        embedding-dedup driver rows matched on 0==0 rows every round
        (r8 verdict #1); with it they verify real detected pairs."""
        emb = _t(spark, sf, "embeddings")
        planted = (emb.filter(F.col("vec_id") < 10)
                   .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                           F.transform("embedding",
                                       lambda x: (x * F.lit(2.0))
                                       .cast("float")).alias("embedding")))
        return emb.select("vec_id", "embedding").unionByName(planted)

    def dedup_embedding(spark, sf):
        """bits pinned to 8: the oracle's hyperplane matrix is a
        structural SQL literal; the production default (bits=None)
        derives the count — see dedup_embedding_derived.  Runs over
        the planted corpus so the driver row verifies the full
        bucket → candidate → exact-cosine pipeline on real pairs."""
        return (DD.dedup_embedding(_emb_planted(spark, sf),
                                   threshold=0.95, bucket_bits=8)
                .orderBy("a", "b"))
    q["dedup_embedding"] = dedup_embedding

    def dedup_embedding_derived(spark, sf):
        """The PRODUCTION configuration (bucket_bits=None → one
        corpus count drives the bit-count derivation) under the
        oracle gate.  ``derive_div=1`` makes the derivation leave the
        floor of 8 AT FIXTURE SCALE (510 rows → 9 bits at sf0.01,
        2,010 → 11 at sf0.1), so the scalar-subquery-gated hyperplane
        terms in the oracle are exercised at non-floor values — and
        the planted corpus makes the verified result non-empty.  The
        oracle mirrors the derivation as a scalar subquery gating how
        many of its max-bits literal hyperplane terms participate, so
        the same SQL replays at any SF."""
        return (DD.dedup_embedding(_emb_planted(spark, sf),
                                   threshold=0.95, bucket_bits=None,
                                   derive_div=1)
                .orderBy("a", "b"))
    q["dedup_embedding_derived"] = dedup_embedding_derived

    # ---- similarity search
    def ann_bruteforce(spark, sf):
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5)
        return SIM.ann_bruteforce(emb, queries_df, k=10).orderBy("query_id", "rank")
    q["ann_bruteforce"] = ann_bruteforce

    def ann_ivf(spark, sf):
        # n_centroids pinned to 16: the DuckDB oracle embeds the cell
        # count as a structural literal, and 16 is the committed
        # baseline every CORRECTNESS row was checked against.  The
        # production default (n_centroids=None) derives
        # max(16, isqrt(n)); the derived path is scale-measured in
        # scripts/scale_out_sf10.json (ann_ivf_scaledc).
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5)
        return (SIM.ann_ivf(emb, queries_df, k=10, n_centroids=16)
                .orderBy("query_id", "rank"))
    q["ann_ivf"] = ann_ivf

    def ann_ivf_derived(spark, sf):
        """The PRODUCTION configuration (n_centroids=None →
        max(16, isqrt(n)) cells from one corpus count) under the
        oracle gate: the oracle computes the same cell count in SQL
        (corrected floor-sqrt = isqrt) and unrolls the stratified
        centroid ids through a lateral range over it — the derivation
        itself is what this row verifies (22 cells at the sf0.01 gate,
        44 at sf0.1, √n forever)."""
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5)
        return (SIM.ann_ivf(emb, queries_df, k=10, n_centroids=None)
                .orderBy("query_id", "rank"))
    q["ann_ivf_derived"] = ann_ivf_derived

    def ann_ivf_arrow(spark, sf):
        """ann_ivf pinned ABOVE the literal-argmax ceiling
        (n_centroids=80 > _CELL_ASSIGN_LITERAL_MAX=64), so the driver
        row runs the Arrow-batched mapInPandas assignment kernel —
        the path the derived √n config takes at scale — against the
        fully relational DuckDB mirror.  Together with
        ann_ivf_derived this puts BOTH halves of the production plan
        (the derivation and the Arrow kernel) under CORRECTNESS."""
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5)
        return (SIM.ann_ivf(emb, queries_df, k=10, n_centroids=80)
                .orderBy("query_id", "rank"))
    q["ann_ivf_arrow"] = ann_ivf_arrow

    def ann_ivf_two_level(spark, sf):
        """The k ≫ 10⁴ ESCAPE HATCH itself under the driver gate
        (r8 verdict #3): clustering.assign_two_level — hierarchical
        coarse quantization, measured 3.67× over the flat Arrow
        argmin at 2M×1414 (scripts/scale_out_assign2l.json) — run at
        80 cells with probe_supers ≥ g, where it is bit-identical to
        the flat path by construction (every member set scanned, same
        int64 micro-unit distances, same smallest-index tie-break).
        The oracle is the fully relational nearest-cell mirror, so
        the CORRECTNESS row replays the hierarchical kernel's exact
        output, not a weaker rows-only check.  Cells are the first 80
        corpus rows by vec_id (same deterministic choice both sides).
        """
        from nifi_datasynthesizer_spark.operators import clustering as CL
        emb = _t(spark, sf, "embeddings")
        quant = emb.select("vec_id",
                           CL._quantize(F.col("embedding")).alias("xi"))
        cents = [list(r.xi)
                 for r in quant.orderBy("vec_id").limit(80).collect()]
        return (CL.assign_two_level(quant, cents, probe_supers=9)
                .select("vec_id", "cluster", "dist_q")
                .orderBy("vec_id"))
    q["ann_ivf_two_level"] = ann_ivf_two_level

    def ann_range_search(spark, sf):
        """Thresholded exact cosine retrieval (top-k's sibling for
        contamination / pull-everything-similar curation): broadcast
        query set, one corpus scan, NO per-query top-k shuffle — the
        qualifying rows are the only thing that leaves the scan."""
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5)
        return _psort(SIM.ann_range(emb, queries_df, min_cosine=0.2),
                      "query_id", "cand_id")
    q["ann_range_search"] = ann_range_search

    def ann_lsh(spark, sf):
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5)
        return SIM.ann_lsh(emb, queries_df, k=10).orderBy("query_id", "rank")
    q["ann_lsh"] = ann_lsh

    def ann_lsh_multiprobe(spark, sf):
        """Multi-probe LSH (Lv et al.): queries probe their bucket +
        every Hamming-1 neighbor — recall bought on the broadcast
        query side, the corpus is bucketed once and never re-hashed."""
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5)
        return SIM.ann_lsh_multiprobe(emb, queries_df, k=10) \
            .orderBy("query_id", "rank")
    q["ann_lsh_multiprobe"] = ann_lsh_multiprobe

    def ann_filtered(spark, sf):
        """Filtered vector search A/B: pre-filter truth (predicate
        pushed into the corpus scan) vs oversampled post-filter —
        quantifies the selective-predicate failure mode per query."""
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 50)
        return SIM.ann_filtered(emb, queries_df, k=10, oversample=4) \
            .orderBy("query_id")
    q["ann_filtered"] = ann_filtered

    def embed_group_drift(spark, sf):
        """Pairwise cosine between label-group centroids: integer
        MEAN centroids (magnitude bounded at any corpus size), one
        posexplode + (group, dim) aggregate, pairwise dot on the
        tiny pinned centroid frame."""
        from nifi_datasynthesizer_spark.operators.clustering import \
            group_drift
        return (group_drift(_t(spark, sf, "embeddings"))
                .orderBy("group_a", "group_b"))
    q["embed_group_drift"] = embed_group_drift

    def embed_outliers(spark, sf):
        """Per-group OOD accounting: exact integer distance to the
        OWN group centroid (centroid literals, narrow corpus pass),
        per-group q90 threshold from a histogram CDF — |groups|
        output rows at any scale."""
        from nifi_datasynthesizer_spark.operators.clustering import \
            embedding_outliers
        return (embedding_outliers(_t(spark, sf, "embeddings"))
                .orderBy("label"))
    q["embed_outliers"] = embed_outliers

    def ann_recall_eval(spark, sf):
        """Index-quality monitoring: per-query recall@10 of the LSH
        index vs exact truth on a 50-query sample, integer-ppm."""
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 50)
        return SIM.ann_recall_eval(emb, queries_df, k=10) \
            .orderBy("query_id")
    q["ann_recall_eval"] = ann_recall_eval

    # ---- text analysis
    def text_langid(spark, sf):
        return _psort(TX.lang_id(_t(spark, sf, "documents"))
                      .select("doc_id", "pred_lang", "lang_score"),
                      "doc_id")
    q["text_langid"] = text_langid

    def text_quality(spark, sf):
        return _psort(
            TX.quality_score(_t(spark, sf, "documents"))
            .select("doc_id", "q_n_chars", "q_n_words", "q_mean_word_len",
                    "q_alpha_ratio", "q_digit_ratio", "q_punct_ratio",
                    "q_stopword_ratio", "q_distinct_ratio", "quality"),
            "doc_id")
    q["text_quality"] = text_quality

    def text_tokens(spark, sf):
        return _psort(
            TX.token_counts(_t(spark, sf, "documents"))
            .select("doc_id", "tok_whitespace", "tok_bpe_ish",
                    "tok_chars_div4"), "doc_id")
    q["text_tokens"] = text_tokens

    def text_fingerprint(spark, sf):
        return _psort(
            TX.fingerprint(_t(spark, sf, "documents"))
            .select("doc_id", "fp_full", "fp_min", "fp_max"), "doc_id")
    q["text_fingerprint"] = text_fingerprint

    def text_entropy(spark, sf):
        """Unigram-entropy + TTR quality signals (information
        density): micro-log2 integer arithmetic, the classic
        two-stage wordcount aggregation — both map-side combinable,
        no window, no UDF."""
        return (TX.word_entropy(_t(spark, sf, "documents"))
                .orderBy("doc_id"))
    q["text_entropy"] = text_entropy

    def text_langid_eval(spark, sf):
        """Confusion matrix of the language-ID heuristic against the
        corpus ground-truth lang column — detector governance (which
        language pairs the marker sets confuse, where 'und' falls):
        one narrow pass + a |langs|² map-side-combined aggregate."""
        docs = _t(spark, sf, "documents")
        from pyspark.sql import Window
        pred = TX.lang_id(docs).select("lang", "pred_lang")
        cells = pred.groupBy("lang", "pred_lang").agg(
            F.count("*").alias("n"))
        w_tot = Window.partitionBy("lang")
        return (cells
                .withColumn("true_n", F.sum("n").over(w_tot))
                .select("lang", "pred_lang", "n",
                        F.expr("n * 1000000 div true_n").cast("long")
                        .alias("share_of_true_ppm"))
                .orderBy("lang", "pred_lang"))
    q["text_langid_eval"] = text_langid_eval

    def text_readability(spark, sf):
        """Flesch / Flesch–Kincaid readability in integer micro-units:
        regexp run counts (words, sentence-enders, vowel groups) and
        positive-operand integer division — one narrow codegen pass,
        no explode/shuffle/UDF."""
        return _psort(TX.readability(_t(spark, sf, "documents")),
                      "doc_id")
    q["text_readability"] = text_readability

    def text_quality_calibration(spark, sf):
        """Reliability diagram of the classifier head vs the heuristic
        quality labeler: positive rate per score decile — the read
        that says whether the head can gate a 100 TB scan."""
        return (TX.classifier_calibration(_t(spark, sf, "documents"))
                .orderBy("bucket"))
    q["text_quality_calibration"] = text_quality_calibration

    def text_embed(spark, sf):
        emb = TX.hash_embed(_t(spark, sf, "documents"), dim=16)
        return _psort(
            emb.select("doc_id",
                       _arr_str(F.col("embedding")).alias("embedding")),
            "doc_id")
    q["text_embed"] = text_embed

    def corpus_stats(spark, sf):
        d = TX.quality_score(TX.lang_id(_t(spark, sf, "documents")))
        return (d.groupBy("pred_lang")
                .agg(F.count("*").alias("n_docs"),
                     F.round(F.avg("quality"), 4).alias("avg_quality"),
                     F.round(F.expr("percentile(q_n_words, 0.5)"), 4)
                     .alias("median_words"),
                     F.round(F.expr("percentile(q_n_words, 0.9)"), 4)
                     .alias("p90_words"))
                .orderBy("pred_lang"))
    q["corpus_stats"] = corpus_stats

    def corpus_stats_sketch(spark, sf):
        """Sketch-mode twin of corpus_stats (r11 — the
        io_column_stats_sketch recipe on the per-language audit):
        histogram-CDF integer percentiles instead of the exact
        percentile()'s per-group value materialization, plus the
        statistic the exact audit cannot afford at all — per-language
        vocabulary ndv via HLL register MAXes (bounded state, no
        distinct-word shuffle).  One pinned scan feeds counts,
        quality, CDF and the word explode."""
        from nifi_datasynthesizer_spark.operators.curation import \
            corpus_stats_sketch as CSS
        d = TX.quality_score(TX.lang_id(_t(spark, sf, "documents")))
        return CSS(d)
    q["corpus_stats_sketch"] = corpus_stats_sketch

    # ---- corpus curation (sampling / decontamination / chunking /
    # repetition / PII)
    def corpus_sample(spark, sf):
        from nifi_datasynthesizer_spark.operators import curation as CU
        return _psort(
            CU.sample_stratified(_t(spark, sf, "documents"),
                                 SAMPLE_RATES, default_rate=0.0)
            .select("doc_id", "source", "lang", "n_chars"), "doc_id")
    q["corpus_sample"] = corpus_sample

    def corpus_sample_k(spark, sf):
        """Exact-k-per-source sample (fixed eval/debug budget where
        rate sampling gives binomial counts): deterministic h60 rank
        inside each stratum, one group-key shuffle."""
        from nifi_datasynthesizer_spark.operators import curation as CU
        return (CU.sample_k_per_group(_t(spark, sf, "documents"),
                                      k=5, salt=3)
                .select("doc_id", "source", "samp_rank")
                .orderBy("source", "samp_rank"))
    q["corpus_sample_k"] = corpus_sample_k

    def corpus_bpe(spark, sf):
        """Tokenizer training: the first 4 BPE merges learned from the
        corpus word-frequency table (greedy-leftmost resegmentation,
        deterministic tie-break) — merge table + symbol totals."""
        from nifi_datasynthesizer_spark.operators import curation as CU
        return (CU.bpe_merges(_t(spark, sf, "documents"), rounds=4)
                .orderBy("merge_round"))
    q["corpus_bpe"] = corpus_bpe

    def corpus_decontaminate(spark, sf):
        from nifi_datasynthesizer_spark.operators import curation as CU
        docs = _t(spark, sf, "documents")
        ev = docs.filter(F.col("doc_id") % 101 == 0)
        tr = docs.filter(F.col("doc_id") % 101 != 0)
        return CU.decontaminate(tr, ev, ngram=8).orderBy("doc_id")
    q["corpus_decontaminate"] = corpus_decontaminate

    def text_chunks(spark, sf):
        from nifi_datasynthesizer_spark.operators import curation as CU
        return _psort(CU.chunk_words(_t(spark, sf, "documents"),
                                     max_words=24), "doc_id", "chunk_id")
    q["text_chunks"] = text_chunks

    def text_repetition(spark, sf):
        from nifi_datasynthesizer_spark.operators import curation as CU
        return _psort(CU.repetition_stats(_t(spark, sf, "documents")),
                      "doc_id")
    q["text_repetition"] = text_repetition

    def text_boilerplate(spark, sf):
        """Corpus-frequent-bigram share per document (integer ppm) —
        the templated-text / navigation-chrome signal: two shuffles,
        both keyed on the bigram, bounded by token count."""
        from nifi_datasynthesizer_spark.operators.text import \
            bigram_boilerplate
        return (bigram_boilerplate(_t(spark, sf, "documents"), min_df=3)
                .orderBy("doc_id"))
    q["text_boilerplate"] = text_boilerplate

    def corpus_shuffle(spark, sf):
        from nifi_datasynthesizer_spark.operators import curation as CU
        return (CU.corpus_shuffle(_t(spark, sf, "documents"),
                                  shards=8, salt=1)
                .orderBy("doc_id"))
    q["corpus_shuffle"] = corpus_shuffle

    def embed_cluster(spark, sf):
        from nifi_datasynthesizer_spark.operators import clustering as CL
        return (CL.cluster_embeddings(_t(spark, sf, "embeddings"),
                                      k=8, iters=2, fit_mod=2)
                .orderBy("vec_id"))
    q["embed_cluster"] = embed_cluster

    def io_signature_store(spark, sf):
        """The incremental-dedup storage path end-to-end: corpus
        minhash signatures materialized to parquet (the between-batch
        artifact), read back, and band-joined against the incoming
        batch — equals dedup_cross computed from raw text, proving
        the store round-trips losslessly (array<bigint> through the
        sink and back)."""
        import tempfile

        docs = _t(spark, sf, "documents")
        incoming = docs.filter(F.col("doc_id") % 7 == 0)
        corpus = docs.filter(F.col("doc_id") % 7 != 0)
        path = tempfile.mkdtemp(prefix="spark_graft_sig_") + "/sigs"
        IO.write(DD.minhash_signatures(corpus, 64, 5), path)
        stored = IO.read(spark, path)
        return (DD.dedup_minhash_cross(incoming, corpus,
                                       num_hashes=64, bands=16,
                                       jaccard_threshold=0.5,
                                       corpus_signatures=stored)
                .orderBy("a", "b"))
    q["io_signature_store"] = io_signature_store

    def dedup_semantic(spark, sf):
        """SemDeDup: k-means buckets confine the quadratic cosine
        search to within-cluster pairs (corpus² → Σ cluster²) — the
        semantic twin of LSH blocking.  k is pinned to 8 HERE because
        the DuckDB mirror unrolls Lloyd into CTEs (structural literal
        k); the production default (k=None) derives k≈√n from one
        corpus count — the r7 scale study measures both
        (scripts/scale_out.json: dedup_semantic vs
        dedup_semantic_scaledk)."""
        from nifi_datasynthesizer_spark.operators import clustering as CL
        return (CL.semantic_dedup(_t(spark, sf, "embeddings"),
                                  k=8, iters=2, threshold=0.4,
                                  fit_mod=2)
                .orderBy("a", "b"))
    q["dedup_semantic"] = dedup_semantic

    def embed_pq(spark, sf):
        """Product quantization: 64 floats → 8 centroid codes per
        vector (the RAM-fit step of IVF-PQ); codes + exact integer
        distortion, codebooks trained deterministically."""
        from nifi_datasynthesizer_spark.operators import clustering as CL
        return (CL.pq_encode(_t(spark, sf, "embeddings"),
                             m=16, k=16, iters=2, fit_mod=2)
                .orderBy("vec_id"))
    q["embed_pq"] = embed_pq

    def ann_pq(spark, sf):
        """ADC top-k over PQ codes: per-query m×k LUT literal +
        m lookups/adds per corpus row — corpus never shuffled,
        exact-integer ranks."""
        from nifi_datasynthesizer_spark.operators import clustering as CL
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5)
        return (CL.pq_search(emb, queries_df, k_top=10, m=16, k=16,
                             iters=2, fit_mod=2)
                .orderBy("query_id", "rank"))
    q["ann_pq"] = ann_pq

    def ann_ivfpq(spark, sf):
        """IVF-PQ: coarse cells gate which PQ codes each query
        ADC-scores (|corpus|·n_probe/n_cells work, m bytes/vector
        read) — the production billion-scale composition."""
        from nifi_datasynthesizer_spark.operators import clustering as CL
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5)
        return (CL.ivfpq_search(emb, queries_df, k_top=10, n_cells=16,
                                n_probe=4, m=16, k=16, iters=2,
                                coarse_iters=1, fit_mod=2)
                .orderBy("query_id", "rank"))
    q["ann_ivfpq"] = ann_ivfpq

    def ann_pq_rerank(spark, sf):
        """Two-stage PQ: ADC shortlist (codes only) then exact
        integer re-rank of shortlist*k candidates — corpus never
        shuffled.  shortlist=8 (was 4): the r6 bench measured recall
        0.600 at shortlist=4 under sample-fit codebooks — exactly at
        the 0.6 bar — while the repo's own sf0.1 sweep puts
        shortlist=8 at ~0.81; the re-rank is a broadcast hash join on
        80 ids/query either way, so the margin is free at scale."""
        from nifi_datasynthesizer_spark.operators import clustering as CL
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5)
        return (CL.pq_rerank_search(emb, queries_df, k_top=10,
                                    shortlist=8, m=16, k=16, iters=2,
                                    fit_mod=2)
                .orderBy("query_id", "rank"))
    q["ann_pq_rerank"] = ann_pq_rerank

    def ann_ivfpq_rerank(spark, sf):
        """The full billion-scale composition: IVF cell-gated ADC
        shortlist + broadcast exact integer re-rank — recall 0.36
        (ADC ranks, p16) -> rerank-grade at the same probe budget;
        corpus is code-scanned once, never shuffled."""
        from nifi_datasynthesizer_spark.operators import clustering as CL
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 5)
        return (CL.ivfpq_rerank_search(emb, queries_df, k_top=10,
                                       shortlist=4, n_cells=16,
                                       n_probe=8, m=16, k=16, iters=2,
                                       coarse_iters=1, fit_mod=2)
                .orderBy("query_id", "rank"))
    q["ann_ivfpq_rerank"] = ann_ivfpq_rerank

    def embed_pca(spark, sf):
        """Distributed power-iteration PCA: per-vector projection onto
        the top principal direction, two one-pass iterations with
        integer-exact dots (no covariance matrix, no vector shuffle)."""
        from nifi_datasynthesizer_spark.operators.clustering import pca_power
        return (pca_power(_t(spark, sf, "embeddings"), iters=2)
                .orderBy("vec_id"))
    q["embed_pca"] = embed_pca

    def text_bm25(spark, sf):
        from nifi_datasynthesizer_spark.operators import search as SE
        return (SE.bm25_topk(_t(spark, sf, "documents"), BM25_QUERIES, k=10)
                .orderBy("query_id", "rank"))
    q["text_bm25"] = text_bm25

    def corpus_ngrams(spark, sf):
        from nifi_datasynthesizer_spark.operators import curation as CU
        return CU.corpus_ngrams(_t(spark, sf, "documents"), n=2, k=20)
    q["corpus_ngrams"] = corpus_ngrams

    def corpus_pack(spark, sf):
        from nifi_datasynthesizer_spark.operators import curation as CU
        return (CU.pack_sequences(_t(spark, sf, "documents"),
                                  seq_tokens=256, shards=8)
                .orderBy("doc_id"))
    q["corpus_pack"] = corpus_pack

    def corpus_diff(spark, sf):
        """Snapshot diff between two corpus versions: per-doc
        added/removed/changed/unchanged via the dedup_exact content
        digest — one digest pass per side + ONE full outer join on
        the id (co-partitioned, no blowup)."""
        from nifi_datasynthesizer_spark.operators.curation import corpus_diff
        docs = _t(spark, sf, "documents")
        old = docs.filter(F.col("doc_id") % 3 != 0)
        new = (docs.filter(F.col("doc_id") % 5 != 0)
               .withColumn("text",
                           F.when(F.col("doc_id") % 7 == 0,
                                  F.concat(F.col("text"), F.lit(" v2")))
                           .otherwise(F.col("text"))))
        return corpus_diff(old, new).orderBy("doc_id")
    q["corpus_diff"] = corpus_diff

    def corpus_balance(spark, sf):
        """Equalize the language mix: per-group keep rates fit
        IN-PLAN (count agg -> broadcast -> narrow h60 filter), all
        groups converge on the smallest group's volume."""
        from nifi_datasynthesizer_spark.operators.curation import \
            corpus_balance
        return (corpus_balance(_t(spark, sf, "documents"), "lang")
                .orderBy("doc_id"))
    q["corpus_balance"] = corpus_balance

    def corpus_pack_pairs(spark, sf):
        """Sorted-pairing packing (no-split alternative to
        corpus_pack): longest-with-shortest rank pairing per hash
        shard — one shuffle, two rank windows in one pass, pair-key
        2-row aggregation; padding cost reported per pair."""
        from nifi_datasynthesizer_spark.operators.curation import pack_pairs
        return (pack_pairs(_t(spark, sf, "documents"), seq_tokens=256,
                           shards=8)
                .orderBy("shard", "pair_id"))
    q["corpus_pack_pairs"] = corpus_pack_pairs

    def corpus_mix(spark, sf):
        from nifi_datasynthesizer_spark.operators import curation as CU
        return (CU.corpus_mix_report(_t(spark, sf, "documents"))
                .orderBy("source", "lang"))
    q["corpus_mix"] = corpus_mix

    def dedup_spans_q(spark, sf):
        from nifi_datasynthesizer_spark.operators import curation as CU
        return (CU.dedup_spans(_t(spark, sf, "documents"), span_words=8)
                .orderBy("doc_id"))
    q["dedup_spans"] = dedup_spans_q

    def dedup_substring(spark, sf):
        """Exact repeated-substring inventory (Lee et al. 2022,
        r9 verdict 3b): every stride-1 8-token window of normalized
        text occurring in >= 2 distinct documents — the arbitrary-
        position repeated-span primitive dedup_spans' non-overlapping
        chunks cannot see.  Two co-keyed map-side-combinable
        aggregations; window extraction via arrays_zip of shifted
        slices (the measured 20x interpreted-HOF fix)."""
        return (DD.repeated_substrings(_t(spark, sf, "documents"),
                                       w=8, min_docs=2)
                .orderBy("span"))
    q["dedup_substring"] = dedup_substring

    def dedup_substring_max(spark, sf):
        """The w-FREE longest-repeated-span question (r10 verdict 3c
        — the suffix-array form of the Lee et al. primitive):
        binary search on the monotone "some length-L window repeats
        across 2 docs" predicate, ~log2(max doc len) one-scalar
        probes over the pinned tokenized corpus, then the standard
        two-stage window count at the winning length.  The oracle
        answers the SAME question by a different algorithm — DuckDB
        materializes and sorts every word suffix and takes max
        cross-document LCP over sort-adjacent pairs — so agreement
        checks the semantics, not a shared implementation."""
        return (DD.longest_repeated_span(_t(spark, sf, "documents"),
                                         min_docs=2)
                .orderBy("span"))
    q["dedup_substring_max"] = dedup_substring_max

    def dedup_substring_strip(spark, sf):
        """The REMOVAL half of Lee et al. 2022 on top of
        dedup_substring's inventory: every word covered by a
        globally-repeated 8-token window is deleted (including the
        first occurrence — boilerplate is boilerplate everywhere,
        unlike dedup_spans' keep-first) and the text rebuilds from
        the survivors; every document reports, with removed counts."""
        return (DD.strip_repeated_substrings(
                    _t(spark, sf, "documents"), w=8, min_docs=2)
                .orderBy("doc_id"))
    q["dedup_substring_strip"] = dedup_substring_strip

    def text_ngram_lm(spark, sf):
        """Bigram-LM perplexity scoring (the CCNet quality-filter
        recipe): the corpus hash-splits into train/holdout, an
        add-one bigram LM trains as two map-side aggregations, and
        the holdout scores via two co-keyed joins — model never
        leaves the cluster.  All-integer NLL output (per-bigram 1e-4
        ln quantization, the bm25 contract)."""
        from nifi_datasynthesizer_spark.operators import text as TX
        return (TX.ngram_lm_score(_t(spark, sf, "documents"),
                                  holdout_mod=5)
                .orderBy("doc_id"))
    q["text_ngram_lm"] = text_ngram_lm

    def text_pii_scrub(spark, sf):
        from nifi_datasynthesizer_spark.operators import curation as CU
        base = compile_schema(SYNTH_PII_SCHEMA, seed=17).dataframe(spark, SYNTH_N)
        doc = base.select(
            "rec_id",
            F.concat_ws(" ", F.lit("contact"), F.col("em"), F.lit("from"),
                        F.col("ip"), F.lit("ssn"), F.col("ssn"),
                        F.lit("call"), F.col("ph")).alias("text"))
        return _psort(
            CU.pii_scrub(doc)
            .select("rec_id", "text_scrubbed", "n_email", "n_ipv4",
                    "n_ssn", "n_phone"), "rec_id")
    q["text_pii_scrub"] = text_pii_scrub

    def dedup_url(spark, sf):
        """URL canonicalization dedup — the stage-zero crawl dedup
        (before any content hash): four spellings of the same logical
        page (scheme/host case, default port, trailing slash,
        tracking params, shuffled query order) must collapse to one
        canonical key.  The fixture synthesizes the spellings from
        the dual-backend int samplers, so the oracle rebuilds the
        identical messy strings and mirrors the canonicalizer with
        DuckDB list/regexp functions."""
        from nifi_datasynthesizer_spark.operators import curation as CU
        base = compile_schema(SYNTH_URL_SCHEMA,
                              seed=29).dataframe(spark, SYNTH_N)
        site = F.concat(F.lit("site"), F.col("d").cast("string"),
                        F.lit(".example.com"))
        page = F.concat(F.lit("page"), F.col("p").cast("string"))
        url = (F.when(F.col("t") == 0, F.concat(
                   F.lit("https://"), site, F.lit("/"), page))
               .when(F.col("t") == 1, F.concat(
                   F.lit("HTTPS://"), F.upper(site), F.lit(":443/"),
                   page, F.lit("/")))
               .when(F.col("t") == 2, F.concat(
                   F.lit("https://"), site, F.lit("/"), page,
                   F.lit("?utm_source=feed&utm_medium=social")))
               .otherwise(F.concat(
                   F.lit("https://"), site, F.lit("/"), page,
                   F.lit("?b=2&a=1&utm_campaign=x"))))
        return (CU.url_dedup(base.select("rec_id", url.alias("url")))
                .orderBy("canonical_url"))
    q["dedup_url"] = dedup_url

    # ---- composed corpus-hygiene pipeline
    def corpus_clean(spark, sf):
        from nifi_datasynthesizer_spark.operators.pipeline import corpus_clean as CC
        out = CC(_t(spark, sf, "documents"), min_quality=0.3,
                 near_dup_threshold=0.5)
        return (out.select("doc_id", "pred_lang", "lang_score",
                           "q_n_words", "quality").orderBy("doc_id"))
    q["corpus_clean"] = corpus_clean

    def corpus_build(spark, sf):
        """The composed training-data BUILD: hygiene pipeline
        (exact-dedup → language/quality annotate → filter → minhash
        near-dup removal) feeding sequence packing — the full
        raw-crawl → training-sequences path as ONE declarative plan,
        demonstrating that the operators compose without
        materialization boundaries (Catalyst sees a single DAG)."""
        from nifi_datasynthesizer_spark.operators import curation as CU
        from nifi_datasynthesizer_spark.operators.pipeline import \
            corpus_clean as CC
        cleaned = CC(_t(spark, sf, "documents"), min_quality=0.3,
                     near_dup_threshold=0.5).select("doc_id", "text")
        return (CU.pack_sequences(cleaned, seq_tokens=256, shards=8)
                .orderBy("doc_id"))
    q["corpus_build"] = corpus_build

    # ---- multimodal plumbing (decode stubbed; plumbing real)
    def media_features(spark, sf):
        media = MM.synth_media(spark, n=500, seed=9)
        feats = MM.extract_features(media, dim=16)
        return _psort(
            feats.select("media_id", "kind", "n_bytes",
                         _arr_ppm(F.col("feature")).alias("feature")),
            "media_id")
    q["media_features"] = media_features

    def media_frames(spark, sf):
        media = MM.synth_media(spark, n=200, seed=10)
        return _psort(
            MM.sample_frames(media, every_ms=5000)
            .select("media_id", "frame_idx", "frame_ts_ms"),
            "media_id", "frame_idx")
    q["media_frames"] = media_frames

    def media_segments(spark, sf):
        """Audio sliding-window segmentation plumbing (stubbed
        decode): overlapping win/hop fan-out with tail clipping,
        narrow posexplode, no shuffle."""
        media = MM.synth_media(spark, n=200, seed=10)
        return _psort(
            MM.segment_audio(media, win_ms=5000, hop_ms=2500)
            .select("media_id", "seg_idx", "seg_start_ms",
                    "seg_end_ms"), "media_id", "seg_idx")
    q["media_segments"] = media_segments

    def media_phash_dedup(spark, sf):
        """Perceptual near-dup pairs: mean-binarized 16-bit codes
        over the (replayable) stub features, Hamming-LSH band
        candidates with capped postings, exact bit_count(xor)
        filter."""
        media = MM.synth_media(spark, n=500, seed=9,
                               payload_universe=250)
        feats = MM.extract_features(media, dim=16)
        return (MM.phash_pairs(feats, dim=16, bands=4, max_hamming=2)
                .orderBy("a", "b"))
    q["media_phash_dedup"] = media_phash_dedup

    def media_dedup(spark, sf):
        """Exact blob dedup (md5 over payload bytes) on a synthetic
        media corpus with a folded payload universe — the multimodal
        twin of dedup_exact."""
        media = MM.synth_media(spark, n=400, seed=23, payload_universe=120)
        return MM.media_dedup(media).orderBy("digest")
    q["media_dedup"] = media_dedup

    def graph_pagerank(spark, sf):
        """Integer-ppm PageRank over the minhash near-dup graph: the
        canonical-representative picker for duplicate neighborhoods
        (keep the hub everyone copied, not the min id)."""
        from nifi_datasynthesizer_spark.operators.graph import pagerank
        pairs = DD.dedup_minhash(_t(spark, sf, "documents"),
                                 num_hashes=64, bands=16,
                                 jaccard_threshold=0.5)
        return pagerank(pairs, iters=2).orderBy("doc_id")
    q["graph_pagerank"] = graph_pagerank

    def graph_label_prop(spark, sf):
        """Deterministic synchronous label propagation over the
        minhash near-dup graph: dense-community detection (template
        blobs collapse, borderline chains stay split) — one node-key
        join + a struct-max vote per round, no window sort."""
        from nifi_datasynthesizer_spark.operators.graph import \
            label_propagation
        pairs = DD.dedup_minhash(_t(spark, sf, "documents"),
                                 num_hashes=64, bands=16,
                                 jaccard_threshold=0.5)
        return label_propagation(pairs, iters=3).orderBy("node")
    q["graph_label_prop"] = graph_label_prop

    def graph_kcore(spark, sf):
        """Bounded 2-core peel over the minhash near-dup graph: the
        dense-nucleus extractor (mirror farms survive, borderline
        near-dup chains peel away).  Fixed round budget so the DuckDB
        oracle unrolls the same peels as a CTE chain; each round is a
        degree aggregate + two semijoins on the node key."""
        from nifi_datasynthesizer_spark.operators.graph import kcore
        pairs = DD.dedup_minhash(_t(spark, sf, "documents"),
                                 num_hashes=64, bands=16,
                                 jaccard_threshold=0.5)
        return kcore(pairs, k=2, rounds=3).orderBy("node")
    q["graph_kcore"] = graph_kcore

    def graph_jaccard(spark, sf):
        """Neighbor-set Jaccard over the minhash near-dup graph —
        link prediction for cluster siblings that lack a direct edge.
        Wedge join on the shared neighbor (Σdeg² — hub caveat), with
        the production degree-cap mitigation EXERCISED: centers above
        max_center_degree=8 are dropped before the self-join (r11 —
        the cap is now a parameter, not documentation), bounding
        candidates by |centers|·64 on any skewed graph."""
        from nifi_datasynthesizer_spark.operators.graph import \
            neighbor_jaccard
        pairs = DD.dedup_minhash(_t(spark, sf, "documents"),
                                 num_hashes=64, bands=16,
                                 jaccard_threshold=0.5)
        return neighbor_jaccard(pairs,
                                max_center_degree=8).orderBy("a", "b")
    q["graph_jaccard"] = graph_jaccard

    def graph_distances(spark, sf):
        """Bounded multi-source BFS over the minhash near-dup graph
        (r11): hop distance from the doc_id < 50 seed set within 4
        rounds — the contamination-radius readout.  Each round is one
        node-keyed join + min-agg (two shuffles), pinned; the oracle
        unrolls the same budget as a depth-bounded recursive CTE."""
        from nifi_datasynthesizer_spark.operators.graph import \
            bfs_distances
        docs = _t(spark, sf, "documents")
        pairs = DD.dedup_minhash(docs, num_hashes=64, bands=16,
                                 jaccard_threshold=0.5)
        seeds = docs.filter(F.col("doc_id") < 50).select("doc_id")
        return bfs_distances(pairs, seeds, rounds=4) \
            .orderBy("node")
    q["graph_distances"] = graph_distances

    def geo_near(spark, sf):
        """Grid-blocked spatial self-join: generated continental-US
        points paired within ~5.5 km via cell blocking + 3×3 neighbor
        equi-join, integer equirectangular distance (engine-exact —
        no runtime trig)."""
        from nifi_datasynthesizer_spark.operators import geo as GEO
        pts = compile_schema(GEO_SCHEMA, seed=31).dataframe(spark, GEO_N)
        return _psort(
            GEO.near_pairs(pts, radius_udeg=GEO_RADIUS_UDEG,
                           id_col="pid", lat_col="latitude",
                           lon_col="longitude"), "a", "b")
    q["geo_near"] = geo_near

    def geo_grid_density(spark, sf):
        """Per-cell density over the SAME integer grid geo_near
        blocks on — the pre-join governance read (candidate volume =
        Σ n_c², dense tail = the cells that need salting).  One
        aggregation on the cell key, no joins, no explode."""
        from nifi_datasynthesizer_spark.operators import geo as GEO
        pts = compile_schema(GEO_SCHEMA, seed=31).dataframe(spark, GEO_N)
        return (GEO.grid_density(pts, cell_udeg=GEO_RADIUS_UDEG,
                                 lat_col="latitude",
                                 lon_col="longitude", min_points=2)
                .orderBy("cx", "cy"))
    q["geo_grid_density"] = geo_grid_density

    def graph_triangles(spark, sf):
        """Triangle enumeration over the minhash near-dup graph
        (degree-ordered orientation — one wedge per triangle, O(m^1.5)
        bound): dense clusters are mirror spam, sparse ones are
        chained false positives."""
        from nifi_datasynthesizer_spark.operators.graph import triangles
        pairs = DD.dedup_minhash(_t(spark, sf, "documents"),
                                 num_hashes=64, bands=16,
                                 jaccard_threshold=0.5)
        return triangles(pairs).orderBy("a", "b", "c")
    q["graph_triangles"] = graph_triangles

    def streaming_dedup_cross(spark, sf):
        """Incremental dedup as a STREAM: each arriving micro-batch of
        documents (doc_id % 7 = 0) foreachBatch-dedupes against the
        static corpus with the batch minhash-cross operator, appending
        to an idempotent sink; the drained union equals the one-shot
        batch dedup_cross, so the same SQL oracle applies."""
        import tempfile

        from nifi_datasynthesizer_spark import streaming as ST
        raw = _t(spark, sf, "documents")
        corpus = raw.filter(F.col("doc_id") % 7 != 0)
        src = (ST.file_stream(spark, sf, raw.schema,
                              glob_filter="documents.parquet")
               .filter(F.col("doc_id") % 7 == 0))
        outdir = tempfile.mkdtemp(prefix="spark_graft_sdc_") + "/pairs"

        def handle(batch_df, batch_id):
            with released():
                out = DD.dedup_minhash_cross(batch_df, corpus,
                                             num_hashes=64, bands=16,
                                             jaccard_threshold=0.5)
                out.write.mode("append").parquet(outdir)

        ST.run_foreach_batch(src, handle)
        return spark.read.parquet(outdir).orderBy("a", "b")
    q["streaming_dedup_cross"] = _stream_tuned(streaming_dedup_cross)

    # ---- round-3 operators: keyword extraction, LM fluency, splits,
    # int8 quantization, hybrid retrieval, stream-stream join
    def text_keywords(spark, sf):
        return (TX.tfidf_keywords(_t(spark, sf, "documents"), k=3)
                .orderBy("doc_id", "rank"))
    q["text_keywords"] = text_keywords

    def text_fluency(spark, sf):
        return (TX.bigram_fluency(_t(spark, sf, "documents"))
                .orderBy("doc_id"))
    q["text_fluency"] = text_fluency

    def text_oov(spark, sf):
        """Per-doc out-of-vocabulary rate vs the corpus top-100 words
        (tokenizer-fit / domain-shift probe): one deterministic vocab
        TakeOrdered bound as a literal, narrow membership scoring."""
        return _psort(TX.oov_rate(_t(spark, sf, "documents"),
                                  vocab_size=100), "doc_id")
    q["text_oov"] = text_oov

    def text_classify(spark, sf):
        """Linear classifier head over hashed token features (the
        fasttext-quality-filter shape): literal weight vector, narrow
        per-row sparse dot, table-quantized logistic — no shuffle."""
        return _psort(TX.classify_score(_t(spark, sf, "documents"),
                                        dim=64, seed=11), "doc_id")
    q["text_classify"] = text_classify

    def text_train_classifier(spark, sf):
        """Logistic-regression TRAINING of a quality head distilled
        from the heuristic quality labeler (text_classify's missing
        fit step): full-batch preconditioned GD with a
        backtracking schedule (halve the rate when training accuracy
        worsens), one distributed pass per round, weights
        literal-bound between rounds, integer-exact trajectory
        replayed by unrolled CTEs.  Training accuracy converges from
        the 64-68% base rate to ~89-90% at every test scale."""
        from nifi_datasynthesizer_spark.operators.text import train_classifier
        docs = _t(spark, sf, "documents")
        return (train_classifier(docs, dim=16, rounds=16, lr_num=1600)
                .orderBy("round", "j"))
    q["text_train_classifier"] = text_train_classifier

    def corpus_split(spark, sf):
        from nifi_datasynthesizer_spark.operators import curation as CU
        return _psort(
            CU.split_train_val_test(_t(spark, sf, "documents"),
                                    val_frac=0.1, test_frac=0.1, salt=3)
            .select("doc_id", "split"), "doc_id")
    q["corpus_split"] = corpus_split

    def corpus_split_groups(spark, sf):
        """Leakage-safe split: near-dup clusters (minhash pairs →
        connected components) share one split, so eval never scores
        memorized train twins; singletons hash on their own id."""
        from nifi_datasynthesizer_spark.operators.curation import split_by_group
        docs = _t(spark, sf, "documents")
        return (split_by_group(docs, val_frac=0.1, test_frac=0.1, salt=3)
                .orderBy("doc_id"))
    q["corpus_split_groups"] = corpus_split_groups

    def corpus_tokenize(spark, sf):
        """BPE tokenizer APPLICATION: per-doc subword token counts
        under the corpus-fit merges — segmentation happens once on
        the distinct vocab, the corpus pass is a broadcast lookup."""
        from nifi_datasynthesizer_spark.operators.curation import bpe_tokenize
        docs = _t(spark, sf, "documents")
        return _psort(bpe_tokenize(docs, rounds=4), "doc_id")
    q["corpus_tokenize"] = corpus_tokenize

    def corpus_tokenizer_fertility(spark, sf):
        """Tokenizer fertility report per language: subword tokens
        per word and chars per token under the corpus-fit BPE — the
        governance read that exposes which languages the tokenizer
        fragments (high fertility = wasted context window there);
        one co-keyed join of the per-doc counts with the language
        column, then a |langs|-row rollup."""
        from nifi_datasynthesizer_spark.operators.curation import \
            bpe_tokenize
        docs = _t(spark, sf, "documents")
        tok = bpe_tokenize(docs, rounds=4)
        return (tok.join(docs.select("doc_id", "lang",
                                     F.length("text").cast("long")
                                     .alias("nc")), "doc_id")
                .groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_words").alias("words"),
                     F.sum("n_bpe_tokens").alias("bpe_tokens"),
                     F.sum("nc").alias("chars"))
                .select("lang", "n_docs", "words", "bpe_tokens",
                        F.expr("bpe_tokens * 1000000 div words")
                        .cast("long").alias("fertility_ppm"),
                        F.expr("chars * 1000000 div bpe_tokens")
                        .cast("long").alias("chars_per_token_ppm"))
                .orderBy("lang"))
    q["corpus_tokenizer_fertility"] = corpus_tokenizer_fertility

    def corpus_dsir(spark, sf):
        """DSIR importance resampling: hashed-ngram likelihood-ratio
        scores vs a low-repetition target subpopulation, histogram-
        threshold top-share selection — fit, scoring, and selection
        all one declarative plan (micro-log2 tables, no libm)."""
        from nifi_datasynthesizer_spark.operators.curation import dsir_weights
        docs = _t(spark, sf, "documents")
        w = F.split(DD.normalize_text(F.col("text")), " ")
        target = F.size(F.array_distinct(w)) * 1000 >= F.size(w) * 600
        return dsir_weights(docs, target).orderBy("doc_id")
    q["corpus_dsir"] = corpus_dsir

    def embed_quantize(spark, sf):
        from nifi_datasynthesizer_spark.operators import similarity as SIM
        return _psort(SIM.quantize_int8(_t(spark, sf, "embeddings"),
                                        dim=64), "vec_id")
    q["embed_quantize"] = embed_quantize

    def search_rrf(spark, sf):
        from nifi_datasynthesizer_spark.operators import search as SE
        return (SE.rrf_fuse(_t(spark, sf, "documents"), BM25_QUERIES,
                            k=10, pool=20)
                .orderBy("query_id", "rank"))
    q["search_rrf"] = search_rrf

    def events_funnel(spark, sf):
        """Ordered funnel over event types: signup → view → purchase,
        one shuffle on user_id, min-over-filter step folding (no
        self-joins)."""
        from nifi_datasynthesizer_spark.operators.temporal import funnel_steps
        ev = _t(spark, sf, "events")
        return (funnel_steps(ev, ["signup", "view", "purchase"])
                .orderBy("user_id"))
    q["events_funnel"] = events_funnel

    def events_funnel_windowed(spark, sf):
        """Conversion-window funnel: every later step must land
        within 7 days of step 1 (the form product analytics actually
        reports) — same one-shuffle min-over-filter fold, the
        deadline is one more predicate in the per-step filter."""
        from nifi_datasynthesizer_spark.operators.temporal import \
            funnel_steps
        ev = _t(spark, sf, "events")
        return (funnel_steps(ev, ["signup", "view", "purchase"],
                             within_s=7 * 86400)
                .orderBy("user_id"))
    q["events_funnel_windowed"] = events_funnel_windowed

    def events_ohlc(spark, sf):
        """Daily OHLC bars per user — the timeseries downsampling
        rollup, integer-cents exact with (ts, event_id) tie-breaks."""
        from nifi_datasynthesizer_spark.operators.temporal import ohlc
        ev = _t(spark, sf, "events")
        return (ohlc(ev, bucket_s=86400)
                .orderBy("user_id", "bucket"))
    q["events_ohlc"] = events_ohlc

    def events_anomaly(spark, sf):
        """Per-user z-score outliers in exact integer algebra:
        (c·n − s)² > z²·(n·ss − s²) over cents — no float mean/variance
        anywhere, bit-identical across engines and partitionings."""
        from nifi_datasynthesizer_spark.operators.temporal import anomalies_zscore
        ev = _t(spark, sf, "events")
        return (anomalies_zscore(ev, z=2)
                .select("user_id", "event_id", "c", "n")
                .orderBy("event_id"))
    q["events_anomaly"] = events_anomaly

    def events_rolling(spark, sf):
        """Per-user rolling 1-hour window (RANGE frame over event-time
        micros): count and integer-cents sum of the trailing hour at
        every event — the sliding-aggregate shape (rate limiting,
        velocity features) that RANGE BETWEEN expresses in one
        shuffle+sort, no self-join."""
        from pyspark.sql import Window
        ev = _t(spark, sf, "events").select(
            "user_id", "event_id", F.unix_micros("ts").alias("tus"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"))
        w = (Window.partitionBy("user_id").orderBy("tus")
             .rangeBetween(-3_600_000_000, 0))
        return (ev.select("user_id", "event_id",
                          F.count("*").over(w).alias("n_1h"),
                          F.sum("cents").over(w).alias("cents_1h"))
                .orderBy("event_id"))
    q["events_rolling"] = events_rolling

    _PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]

    def events_pivot(spark, sf):
        """Wide daily activity matrix via the pivot relational op —
        fixed pivot values keep it a single-pass aggregation (no
        value-discovery job)."""
        ev = _t(spark, sf, "events")
        return (ev.groupBy(F.to_date("ts").alias("day"))
                .pivot("event_type", _PIVOT_TYPES)
                .count()
                .na.fill(0, _PIVOT_TYPES)
                .orderBy("day"))
    q["events_pivot"] = events_pivot

    def events_rollup(spark, sf):
        """Multi-level subtotals in ONE pass (ROLLUP): per (type, day),
        per type, and grand total — partial aggregation absorbs the
        hierarchy map-side instead of three separate jobs."""
        ev = _t(spark, sf, "events").select(
            "event_type", F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"))
        return (ev.rollup("event_type", "day")
                .agg(F.count("*").alias("n"),
                     F.sum("cents").alias("cents"))
                # sentinel the subtotal NULLs: pandas None/NaT compare
                # differently per engine, '(all)' rows don't
                .select(F.coalesce("event_type", F.lit("(all)"))
                        .alias("event_type"),
                        F.coalesce("day", F.lit("1900-01-01").cast("date"))
                        .alias("day"),
                        "n", "cents")
                .orderBy("event_type", "day"))
    q["events_rollup"] = events_rollup

    def events_cube(spark, sf):
        """CUBE: every subtotal combination — adds the per-day margin
        ROLLUP's hierarchy skips — still ONE pass via Expand + map-side
        partials (4 grouping sets, not 4 jobs)."""
        ev = _t(spark, sf, "events").select(
            "event_type", F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"))
        return (ev.cube("event_type", "day")
                .agg(F.count("*").alias("n"),
                     F.sum("cents").alias("cents"))
                .select(F.coalesce("event_type", F.lit("(all)"))
                        .alias("event_type"),
                        F.coalesce("day", F.lit("1900-01-01").cast("date"))
                        .alias("day"),
                        "n", "cents")
                .orderBy("event_type", "day"))
    q["events_cube"] = events_cube

    def io_roundtrip(spark, sf):
        """Record-writer path under the oracle gate: generated records
        written as zstd parquet PARTITIONED BY segment (the
        low-cardinality layout that keeps file counts sane at 100 TB),
        read back, and aggregated — the result must equal the oracle
        aggregating the generation SQL directly, proving the sink
        loses nothing (values, types, partition column round-trip)."""
        import tempfile

        base = compile_schema(SYNTH_BASIC_SCHEMA, seed=21) \
            .dataframe(spark, 5000)
        path = tempfile.mkdtemp(prefix="spark_graft_rt_") + "/t"
        IO.write(base, path, fmt="parquet", partition_by=["segment"])
        back = IO.read(spark, path, fmt="parquet")
        return (back.groupBy("segment")
                .agg(F.count("*").alias("n"),
                     F.sum("qty").alias("sum_qty"),
                     F.sum(F.floor(F.col("price") * 100).cast("long"))
                     .alias("price_cents"),
                     F.countDistinct("state").alias("n_states"))
                .orderBy("segment"))
    q["io_roundtrip"] = io_roundtrip

    def sketch_distinct(spark, sf):
        """FM/PCSA distinct-count sketch per event_type: bounded
        per-group register state vs countDistinct's full id shuffle;
        registers and the integer estimate replay exactly in DuckDB."""
        from nifi_datasynthesizer_spark.operators.sketches import fm_distinct
        ev = _t(spark, sf, "events")
        return fm_distinct(ev, "event_type", "user_id").orderBy("event_type")
    q["sketch_distinct"] = sketch_distinct

    def sketch_hll(spark, sf):
        """HyperLogLog distinct count per event_type: harmonic-mean
        estimate (σ ≈ 1.04/√m) over the same MAX-combinable registers
        as sketch_distinct, in pure scaled-integer arithmetic with a
        literal linear-counting table — engine-exact."""
        from nifi_datasynthesizer_spark.operators.sketches import hll_distinct
        ev = _t(spark, sf, "events")
        return hll_distinct(ev, "event_type", "user_id").orderBy("event_type")
    q["sketch_hll"] = sketch_hll

    def sketch_heavy_hitters(spark, sf):
        """Count-min sketch frequency estimates for the corpus top-10
        words: constant depth×width counter grid, estimates ≥ exact."""
        from nifi_datasynthesizer_spark.operators.sketches import cm_heavy_hitters
        docs = _t(spark, sf, "documents")
        return cm_heavy_hitters(docs, k=10).orderBy("rank")
    q["sketch_heavy_hitters"] = sketch_heavy_hitters

    def sketch_merge(spark, sf):
        """FM registers MAX-merged upward (day → group → all): the
        reaggregation that answers coarser distinct-count questions
        from stored daily sketches without re-touching ids."""
        from nifi_datasynthesizer_spark.operators.sketches import \
            fm_distinct_rollup
        ev = _t(spark, sf, "events")
        return (fm_distinct_rollup(ev, "event_type", "user_id")
                .orderBy("scope", "event_type", "day"))
    q["sketch_merge"] = sketch_merge

    def sketch_quantiles(spark, sf):
        """Histogram-sketch percentiles per event_type (the
        t-digest/KLL role with a deterministic equi-width grid):
        bounded per-group state, upper-edge estimates in exact cents."""
        from nifi_datasynthesizer_spark.operators.sketches import hist_quantiles
        ev = _t(spark, sf, "events")
        return hist_quantiles(ev, "event_type", "value").orderBy("event_type")
    q["sketch_quantiles"] = sketch_quantiles

    def sketch_topk(spark, sf):
        """UpperQuantile.java:31 port: exact tail quantiles from a
        retained top-k per group — reference interpolation formula,
        WindowGroupLimit partial top-k before the shuffle, group
        counts broadcast back; ≤ k·|groups| rows past the filter."""
        from nifi_datasynthesizer_spark.operators.sketches import \
            upper_quantile
        ev = _t(spark, sf, "events")
        return (upper_quantile(ev, "event_type", "value", "event_id",
                               max_retained=4096,
                               quantiles=(0.9, 0.99, 0.999))
                .orderBy("event_type"))
    q["sketch_topk"] = sketch_topk

    def sketch_kmv(spark, sf):
        """KMV bottom-k sketch per source + pairwise Jaccard between
        sources — the theta-sketch set-operation the register sketches
        can't do: union/intersection estimates composed from k-row
        sketches alone, no cross-group token join."""
        from nifi_datasynthesizer_spark.operators.sketches import kmv_sketch
        docs = _t(spark, sf, "documents")
        return kmv_sketch(docs, "source", k=64).orderBy("ga", "gb")
    q["sketch_kmv"] = sketch_kmv

    def sketch_audience_overlap(spark, sf):
        """Audience overlap between event-type segments by bottom-k
        ID sketches (r11): per segment pair, distinct-user union AND
        intersection estimates plus coincidence Jaccard — the
        theta-sketch set-operation question (HLL cannot intersect)
        answered from k-row sketches with no cross-segment user
        join.  One distinct (segment, h60(user)) pass is the only
        corpus-sized work."""
        from nifi_datasynthesizer_spark.operators.sketches import \
            kmv_id_sketch
        return (kmv_id_sketch(_t(spark, sf, "events"),
                              group_col="event_type",
                              id_col="user_id", k=64)
                .orderBy("ga", "gb"))
    q["sketch_audience_overlap"] = sketch_audience_overlap

    def sketch_bloom(spark, sf):
        """Bloom-filter semi-join reduction: BUILDING-segment customer
        keys packed into a broadcast bitmap that filters orders with a
        NARROW scan-side predicate (no fact shuffle); exact member and
        false-negative columns ride along as the self-check (blooms
        never miss)."""
        from nifi_datasynthesizer_spark.operators.sketches import \
            bloom_semi_join_stats
        cust = _t(spark, sf, "customer") \
            .filter(F.col("c_mktsegment") == "BUILDING")
        orders = _t(spark, sf, "orders")
        return bloom_semi_join_stats(
            orders, cust, "o_custkey", "c_custkey",
            "o_orderpriority").orderBy("o_orderpriority")
    q["sketch_bloom"] = sketch_bloom

    def events_transitions(spark, sf):
        """Markov transition matrix over per-user event sequences
        (path analysis): one user-key shuffle for the lag window, a
        |states|² count, integer-ppm row probabilities."""
        from nifi_datasynthesizer_spark.operators.temporal import \
            transition_matrix
        ev = _t(spark, sf, "events")
        return transition_matrix(ev).orderBy("src", "dst")
    q["events_transitions"] = events_transitions

    def events_parse_lines(spark, sf):
        """Event.java:37 log ingestion: render the reference's
        ``[iso-ts] /op?user=hexuid o1.o2.o3.o4`` line format from the
        events table, then parse it back into typed
        (uid, time_ms, ip_num, op) records — hex uid, Java
        signed-int32 ip packing, epoch millis via pure integer
        civil-date arithmetic.  Each half is a narrow scan-transform;
        the roundtrip composition pins the rendered lines because (a)
        the single-file local scan otherwise runs all regexes on one
        core (at 100 TB input splits parallelize this for free —
        ensure_parallelism no-ops) and (b) format+parse stacked in ONE
        whole-stage pipeline exceed janino's 64 KB method limit and
        fall back to interpreted row copies (~27 projections); split
        stages codegen cleanly.  Real ingestion runs parse alone over
        stored lines and needs neither crutch."""
        from nifi_datasynthesizer_spark.operators import logs as LG
        ev = DD.ensure_parallelism(_t(spark, sf, "events"))
        lines = pin(LG.format_event_lines(ev))
        lines.count()
        return LG.parse_event_lines(lines).orderBy("event_id")
    q["events_parse_lines"] = events_parse_lines

    def events_cdc_apply(spark, sf):
        """CDC/MERGE primitive: latest-change-wins per key over a
        changelog (struct-max aggregation — map-side partials, no
        full-history window), final deletes drop the key."""
        from nifi_datasynthesizer_spark.operators.temporal import cdc_apply
        ev = _t(spark, sf, "events")
        op = (F.when(F.col("event_type") == "error", "delete")
              .when(F.col("event_type") == "signup", "insert")
              .otherwise("update"))
        changes = ev.select("user_id", "ts", "event_id", op.alias("op"))
        return (cdc_apply(changes)
                .select("user_id",
                        F.unix_micros("last_ts").alias("last_tus"),
                        "last_seq", "last_op", "n_changes")
                .orderBy("user_id"))
    q["events_cdc_apply"] = events_cdc_apply

    def events_attribution(spark, sf):
        """Last-touch attribution: credit each purchase to the user's
        most recent click/view within a 7-day lookback — one window
        over (user ORDER BY ts, id) carrying the latest touch struct,
        no inequality self-join."""
        from nifi_datasynthesizer_spark.operators.temporal import \
            last_touch_attribution
        ev = _t(spark, sf, "events")
        return last_touch_attribution(ev).orderBy("conv_id")
    q["events_attribution"] = events_attribution

    def corpus_token_budget(spark, sf):
        """Token-balanced mixture: each source capped at the smallest
        source's total tokens, admitted in hash-priority order —
        level-CDF boundary location so no per-source global window
        ever touches the corpus."""
        from nifi_datasynthesizer_spark.operators.curation import \
            corpus_token_budget
        docs = _t(spark, sf, "documents")
        return corpus_token_budget(docs).orderBy("doc_id")
    q["corpus_token_budget"] = corpus_token_budget

    def corpus_overlap(spark, sf):
        """Cross-source n-gram contamination matrix: exact pairwise
        intersection / Jaccard / both containments from ONE distinct
        (source, gram) pass + posting-list pair expansion."""
        from nifi_datasynthesizer_spark.operators.curation import \
            corpus_overlap
        docs = _t(spark, sf, "documents")
        return corpus_overlap(docs).orderBy("src_a", "src_b")
    q["corpus_overlap"] = corpus_overlap

    def graph_components(spark, sf):
        """Generic connected components (min-label propagation,
        O(diameter) rounds) over a rare-shared-key identity graph
        built with linear chain edges, never per-key cliques."""
        from nifi_datasynthesizer_spark.operators.graph import \
            components, identity_edges
        ev = _t(spark, sf, "events")
        return components(identity_edges(ev)).orderBy("node")
    q["graph_components"] = graph_components

    def events_sequences(spark, sf):
        """Top-k frequent event-type trigrams over per-user timelines
        — contiguous-n-gram sequential pattern mining on the same
        single user-key shuffle the transition matrix uses."""
        from nifi_datasynthesizer_spark.operators.temporal import \
            frequent_sequences
        ev = _t(spark, sf, "events")
        out = frequent_sequences(ev)
        return (out.withColumn("rank", F.col("rank").cast("long"))
                .orderBy("rank"))
    q["events_sequences"] = events_sequences

    def sketch_ams(spark, sf):
        """AMS F2 / self-join-size sketch per event type: ±1 hash-sign
        counters over the collapsed key-frequency frame, exact
        integer lower-median, exact F2 riding along."""
        from nifi_datasynthesizer_spark.operators.sketches import ams_f2
        ev = _t(spark, sf, "events")
        return ams_f2(ev).orderBy("event_type")
    q["sketch_ams"] = sketch_ams

    def corpus_curriculum(spark, sf):
        """Length-quantile curriculum staging: CDF-from-histogram
        boundaries (one tiny agg + broadcast row), never a global
        ntile sort over the corpus."""
        from nifi_datasynthesizer_spark.operators.curation import \
            corpus_curriculum
        docs = _t(spark, sf, "documents")
        return corpus_curriculum(docs).orderBy("doc_id")
    q["corpus_curriculum"] = corpus_curriculum

    def events_dwell(spark, sf):
        """Timed process model: dwell-time stats per state transition
        (integer-microsecond gaps, floor-division mean) on the same
        user-key shuffle the transition matrix uses."""
        from nifi_datasynthesizer_spark.operators.temporal import \
            dwell_times
        ev = _t(spark, sf, "events")
        return dwell_times(ev).orderBy("src", "dst")
    q["events_dwell"] = events_dwell

    def embed_knn_graph(spark, sf):
        """Approximate k-NN graph with reciprocal-edge flags: one
        pinned bucket pass, half-space join mirrored, pair-sized
        top-k and mutual joins."""
        from nifi_datasynthesizer_spark.operators.similarity import \
            knn_graph
        emb = _t(spark, sf, "embeddings")
        return knn_graph(emb).orderBy("src", "rank")
    q["embed_knn_graph"] = embed_knn_graph

    def streaming_cdc_apply(spark, sf):
        """Streaming CDC under the batch oracle gate: per-key
        latest-change-wins state (applyInPandasWithState, four
        scalars per key) over the replayed changelog; the drained
        max-n row per key equals the batch cdc_apply, deletes
        dropped after the drain."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        src = ST.file_stream(spark, sf, raw_schema,
                             glob_filter="events.parquet")
        op = (F.when(F.col("event_type") == "error", "delete")
              .when(F.col("event_type") == "signup", "insert")
              .otherwise("update"))
        # the file stream reads ts as TIMESTAMP_NTZ; the session is
        # pinned UTC, so the cast makes unix_micros equal the batch
        # reader's epoch micros
        ch = src.select(F.col("user_id"),
                        F.unix_micros(F.col("ts").cast("timestamp"))
                        .alias("tus"),
                        F.col("event_id").alias("seq"), op.alias("op"))
        out = ST.cdc_state(ch, key_col="user_id")
        q_ = ST.run_to_memory(out, "stream_cdc", output_mode="update")
        try:
            q_.awaitTermination()
        finally:
            q_.stop()
        tbl = spark.table("stream_cdc")
        final = (tbl.groupBy("key")
                 .agg(F.max_by(F.struct("last_tus", "last_seq", "last_op"),
                               "n_changes").alias("s"),
                      F.max("n_changes").alias("n_changes")))
        return (final.filter(F.col("s.last_op") != "delete")
                .select(F.col("key").cast("long").alias("user_id"),
                        F.col("s.last_tus").alias("last_tus"),
                        F.col("s.last_seq").alias("last_seq"),
                        F.col("s.last_op").alias("last_op"), "n_changes")
                .orderBy("user_id"))
    q["streaming_cdc_apply"] = _stream_tuned(streaming_cdc_apply)

    def events_scd2(spark, sf):
        """SCD type-2 dimension built from the event stream: one
        validity interval per (user, daily change point), closed by
        the next version — the other side of the as-of join."""
        from nifi_datasynthesizer_spark.operators.temporal import scd2_from_events
        ev = _t(spark, sf, "events")
        return (scd2_from_events(ev)
                .orderBy("user_id", "vfrom"))
    q["events_scd2"] = events_scd2

    def events_ewma(spark, sf):
        """Integer-exact EWMA (half-decay per observed day) of the
        per-user daily series — truncated power-of-two halvings, no
        float powers, no recursive state."""
        from nifi_datasynthesizer_spark.operators.temporal import ewma_daily
        ev = _t(spark, sf, "events")
        return ewma_daily(ev).orderBy("user_id", "day")
    q["events_ewma"] = events_ewma

    def events_gap_fill(spark, sf):
        """Daily series per user with missing days materialized and
        forward-filled (resampling) — no joins, one key shuffle."""
        from nifi_datasynthesizer_spark.operators.temporal import gap_fill_daily
        ev = _t(spark, sf, "events")
        return (gap_fill_daily(ev)
                .orderBy("user_id", "day"))
    q["events_gap_fill"] = events_gap_fill

    def streaming_stream_join(spark, sf):
        """Stream-stream attribution join under the oracle gate: view
        events matched to same-user purchase events within 12 h, both
        sides replayed as watermarked file streams and drained with
        availableNow — the result set equals the batch interval join,
        so a plain SQL oracle applies."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        views = IO.normalize_event_ts(
            ST.file_stream(spark, sf, raw_schema,
                           glob_filter="events.parquet")) \
            .filter(F.col("event_type") == "view") \
            .select("event_id", "ts", "user_id")
        buys = IO.normalize_event_ts(
            ST.file_stream(spark, sf, raw_schema,
                           glob_filter="events.parquet")) \
            .filter(F.col("event_type") == "purchase") \
            .select("event_id", "ts", "user_id")
        j = ST.interval_join(views, buys, key="user_id", ts_col="ts",
                             within="12 hours")
        out = ST.run_bounded(j.select(
            F.col("l_event_id").alias("view_id"),
            F.col("r_event_id").alias("purchase_id"),
            (F.unix_micros("r_ts") - F.unix_micros("l_ts"))
            .alias("gap_us")), "stream_interval_join", output_mode="append")
        return out.orderBy("view_id", "purchase_id")
    q["streaming_stream_join"] = _stream_tuned(streaming_stream_join)

    def streaming_stream_join_left(spark, sf):
        """Stream-stream LEFT OUTER interval join (r9 verdict 3a — the
        one Structured Streaming join shape the registry lacked):
        views matched to same-user purchases within 12 h; views the
        watermark has proven unmatched emit with null right columns at
        state eviction.  COALESCE(-1) replaces the nulls so the
        compare never depends on engine null-ordering.  The oracle is
        the batch LEFT JOIN restricted by the final-watermark rule:
        an unmatched view reports iff ``l_ts + within`` is below the
        final watermark ``min(floor_ms(max view ts), floor_ms(max
        purchase ts)) - within`` — the min because each side's
        watermark node sees only its own filtered subtype
        (multipleWatermarkPolicy=min); exactly the rows whose state a
        bounded drain evicts (streaming.interval_join docstring)."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        views = IO.normalize_event_ts(
            ST.file_stream(spark, sf, raw_schema,
                           glob_filter="events.parquet")) \
            .filter(F.col("event_type") == "view") \
            .select("event_id", "ts", "user_id")
        buys = IO.normalize_event_ts(
            ST.file_stream(spark, sf, raw_schema,
                           glob_filter="events.parquet")) \
            .filter(F.col("event_type") == "purchase") \
            .select("event_id", "ts", "user_id")
        j = ST.interval_join(views, buys, key="user_id", ts_col="ts",
                             within="12 hours", how="left_outer")
        out = ST.run_bounded(j.select(
            F.col("l_event_id").alias("view_id"),
            F.coalesce(F.col("r_event_id"), F.lit(-1))
            .alias("purchase_id"),
            F.coalesce(F.unix_micros("r_ts") - F.unix_micros("l_ts"),
                       F.lit(-1)).alias("gap_us")),
            "stream_interval_join_left", output_mode="append")
        return out.orderBy("view_id", "purchase_id")
    q["streaming_stream_join_left"] = _stream_tuned(
        streaming_stream_join_left)

    def streaming_stream_join_right(spark, sf):
        """Stream-stream RIGHT OUTER interval join (r11 — the r10
        verdict's remaining-join-modes item): purchases matched to a
        prior same-user view within 12 h; purchases the watermark has
        proven unmatched emit with null left columns at state
        eviction.  The emission rule differs from the left twin and
        was derived empirically at two SFs (sf0.001 AND sf0.01, both
        bit-exact): a right row is evictable once the watermark
        passes ITS OWN event time (the join requires l_ts <= r_ts, so
        no future left row can match it), i.e. unmatched purchases
        report iff ``epoch_us(r_ts) < wm_final`` where ``wm_final =
        min(floor_ms(max per-side ts)) - within`` — no ``+ within``
        term, unlike the left rule (the left row must additionally
        age past its whole match window)."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        views = IO.normalize_event_ts(
            ST.file_stream(spark, sf, raw_schema,
                           glob_filter="events.parquet")) \
            .filter(F.col("event_type") == "view") \
            .select("event_id", "ts", "user_id")
        buys = IO.normalize_event_ts(
            ST.file_stream(spark, sf, raw_schema,
                           glob_filter="events.parquet")) \
            .filter(F.col("event_type") == "purchase") \
            .select("event_id", "ts", "user_id")
        j = ST.interval_join(views, buys, key="user_id", ts_col="ts",
                             within="12 hours", how="right_outer")
        out = ST.run_bounded(j.select(
            F.col("r_event_id").alias("purchase_id"),
            F.coalesce(F.col("l_event_id"), F.lit(-1)).alias("view_id"),
            F.coalesce(F.unix_micros("r_ts") - F.unix_micros("l_ts"),
                       F.lit(-1)).alias("gap_us")),
            "stream_interval_join_right", output_mode="append")
        return out.orderBy("purchase_id", "view_id")
    q["streaming_stream_join_right"] = _stream_tuned(
        streaming_stream_join_right)

    def streaming_stream_join_full(spark, sf):
        """Stream-stream FULL OUTER interval join (r11): the union of
        the inner matches with BOTH eviction-emitted unmatched sides,
        each under its own watermark rule — left rows report
        unmatched iff ``l_ts + within < wm_final`` (they must age
        past their match window), right rows iff ``r_ts < wm_final``
        (no future left can reach them) — both rules empirically
        pinned bit-exact at sf0.001 and sf0.01 before the oracle was
        written.  State cost is the same one-window-per-key bound as
        the inner join; only the emission timing differs."""
        from nifi_datasynthesizer_spark import streaming as ST
        raw_schema = IO.table_schema(spark, sf, "events")
        views = IO.normalize_event_ts(
            ST.file_stream(spark, sf, raw_schema,
                           glob_filter="events.parquet")) \
            .filter(F.col("event_type") == "view") \
            .select("event_id", "ts", "user_id")
        buys = IO.normalize_event_ts(
            ST.file_stream(spark, sf, raw_schema,
                           glob_filter="events.parquet")) \
            .filter(F.col("event_type") == "purchase") \
            .select("event_id", "ts", "user_id")
        j = ST.interval_join(views, buys, key="user_id", ts_col="ts",
                             within="12 hours", how="full_outer")
        out = ST.run_bounded(j.select(
            F.coalesce(F.col("l_event_id"), F.lit(-1)).alias("view_id"),
            F.coalesce(F.col("r_event_id"), F.lit(-1))
            .alias("purchase_id"),
            F.coalesce(F.unix_micros("r_ts") - F.unix_micros("l_ts"),
                       F.lit(-1)).alias("gap_us")),
            "stream_interval_join_full", output_mode="append")
        return out.orderBy("view_id", "purchase_id")
    q["streaming_stream_join_full"] = _stream_tuned(
        streaming_stream_join_full)

    return _rotate(q)


# ------------------------------------------------------------- oracles

_EN = "('the','and','of','to','is','that','with')"


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["q1_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""

    o["q3_top_orders"] = """
SELECT l_orderkey, o_orderdate,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10"""

    o["q10_returned_customers"] = """
WITH rev AS (
  SELECT o_custkey,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-10-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY o_custkey)
SELECT c_custkey, c_name, revenue, c_acctbal, n_name
FROM rev JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey LIMIT 20"""

    o["q14_promo_revenue"] = """
WITH j AS (
  SELECT p_type, l_extendedprice * (1 - l_discount) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'),
s AS (SELECT ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN rev
                            ELSE 0 END), 2) AS pr,
             ROUND(SUM(rev), 2) AS tr
      FROM j)
SELECT CAST(ROUND(pr * 100, 0) AS BIGINT) AS promo_cents,
       CAST(ROUND(tr * 100, 0) AS BIGINT) AS total_cents,
       CAST(ROUND(pr * 100, 0) AS BIGINT) * 1000000 //
         CAST(ROUND(tr * 100, 0) AS BIGINT) AS promo_ppm
FROM s"""

    o["q18_large_orders"] = """
WITH big AS (
  SELECT l_orderkey, SUM(l_quantity) AS sq
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       ROUND(sq, 2) AS sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"""

    o["q5_nation_revenue"] = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY revenue DESC, n_name"""

    o["q6_forecast_revenue"] = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24"""

    o["q4_order_priority"] = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority"""

    o["io_bucketed_join"] = """
SELECT o_custkey, COUNT(*) AS n_items,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_custkey ORDER BY o_custkey"""

    o["events_daily"] = """
SELECT CAST(ts AS DATE) AS day, event_type,
       COUNT(*) AS n_events,
       SUM(CAST(FLOOR(value * 100) AS BIGINT)) / 100.0 AS total_value
FROM events GROUP BY day, event_type ORDER BY day, event_type"""

    o["events_sessionize"] = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
m AS (SELECT *, CASE WHEN LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
s AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
                                       ORDER BY tus, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS session_idx
      FROM m)
SELECT user_id, session_idx, COUNT(*) AS n_events,
       MIN(tus) AS session_start_us, MAX(tus) AS session_end_us,
       MAX(tus) - MIN(tus) AS duration_us,
       SUM(cents) / 100.0 AS total_value
FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""

    o["events_salted_join"] = """
WITH e AS (SELECT event_id, event_type, value FROM events),
d AS (SELECT event_type, COUNT(*) AS n_type,
             ROUND(AVG(value), 2) AS type_avg
      FROM e GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value, d.n_type, d.type_avg
FROM e JOIN d USING (event_type) ORDER BY e.event_id"""

    o["media_resize"] = """
SELECT media_id,
  CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       ELSE 'video' END AS kind,
  CASE media_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
       ELSE 'video/mp4' END AS mime,
  CAST(CASE WHEN media_id % 3 = 0 THEN 256
            ELSE media_id % 1920 + 1 END AS INT) AS width,
  CAST(CASE WHEN media_id % 3 = 0 THEN 256
            ELSE media_id % 1080 + 1 END AS INT) AS height,
  CAST(media_id % 60000 AS INT) AS duration_ms
FROM range(0, 300) t(media_id) ORDER BY media_id"""

    o["events_asof_balance"] = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec, value
           FROM events),
s AS (SELECT user_id, (tsec // 86400) * 86400 + 43200 AS tsec,
             SUM(CAST(FLOOR(value * 100) AS BIGINT)) / 100.0 AS balance
      FROM e GROUP BY user_id, tsec // 86400)
SELECT e.user_id, e.event_id, e.tsec, e.value,
       COALESCE(s.balance, -1.0) AS balance_asof
FROM e ASOF LEFT JOIN s
  ON e.user_id = s.user_id AND e.tsec >= s.tsec
ORDER BY e.event_id"""

    o["events_range_windows"] = """
WITH e AS (SELECT event_id, event_type, epoch_us(ts) // 1000000 AS tsec
           FROM events),
w AS (SELECT DISTINCT event_type, (tsec // 86400) * 86400 AS ws,
             (tsec // 86400) * 86400 + 21600 AS we
      FROM e)
SELECT e.event_id, e.event_type, e.tsec, w.ws, w.we
FROM e JOIN w ON e.event_type = w.event_type
             AND e.tsec >= w.ws AND e.tsec < w.we
ORDER BY e.event_id"""

    # streaming daily rollup drains to the same final table as the
    # batch rollup (complete-mode bounded run) — identical oracle
    o["streaming_events_daily"] = """
SELECT CAST(ts AS DATE) AS day, event_type,
       COUNT(*) AS n_events,
       SUM(CAST(FLOOR(value * 100) AS BIGINT)) / 100.0 AS total_value
FROM events GROUP BY day, event_type ORDER BY day, event_type"""

    o["streaming_sessionize"] = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
m AS (SELECT *, CASE WHEN LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w >= 1800000000
                     THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM m)
SELECT user_id, MIN(tus) AS session_start_us, COUNT(*) AS n_events,
       SUM(cents) / 100.0 AS total_value
FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_start_us"""

    o["streaming_dedup_docs"] = f"""
SELECT DISTINCT MD5({_NORM}) AS digest FROM documents ORDER BY digest"""

    o["streaming_enrich_nation"] = """
SELECT c_nationkey, COUNT(*) AS n_events,
       SUM(CAST(FLOOR(value * 100) AS BIGINT)) / 100.0 AS total_value
FROM events e JOIN customer c
  ON c.c_custkey = e.user_id % (SELECT COUNT(*) FROM customer) + 1
GROUP BY c_nationkey ORDER BY c_nationkey"""

    o["streaming_topk"] = """
WITH c AS (SELECT CAST(event_type AS VARCHAR) AS event_type,
                  CAST(user_id AS VARCHAR) AS user_id,
                  COUNT(*) AS n_events
           FROM events GROUP BY 1, 2),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY n_events DESC, user_id) AS rank
      FROM c)
SELECT event_type, user_id, n_events, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5 ORDER BY event_type, rank"""

    o["streaming_running_totals"] = """
SELECT CAST(user_id AS VARCHAR) AS user_id, COUNT(*) AS n_events,
       SUM(CAST(FLOOR(value * 100) AS BIGINT)) / 100.0 AS total_value
FROM events GROUP BY user_id ORDER BY user_id"""
    # the pandas-state template twin computes the identical totals
    o["streaming_running_totals_pandas"] = o["streaming_running_totals"]

    o["events_retention"] = """
WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
c AS (SELECT user_id, MIN(day) AS cohort FROM d GROUP BY user_id)
SELECT cohort, (day - cohort) AS day_offset,
       COUNT(DISTINCT d.user_id) AS active_users
FROM d JOIN c USING (user_id)
GROUP BY cohort, day_offset ORDER BY cohort, day_offset"""

    # synthesis replays: exact SQL mirrors emitted by the compiler
    o["synth_basic"] = compile_schema(SYNTH_BASIC_SCHEMA, seed=1).duckdb_sql(SYNTH_N)
    o["synth_identifiers"] = compile_schema(SYNTH_IDENT_SCHEMA, seed=2).duckdb_sql(SYNTH_N)
    o["synth_phone_numbers"] = SZ.phone_numbers(SYNTH_N, area_code=555, seed=3).sql()
    o["synth_text_messages"] = SZ.text_messages(SYNTH_N, words=12, seed=4).sql()
    o["synth_markov_text"] = SZ.markov_text(5000, words=16, seed=5).sql()
    o["synth_markov_sms"] = SZ.text_messages(2000, source_area=212, words=20,
                                             seed=6, markov_chars=80).sql()
    o["synth_transactions"] = SZ.transactions_sql(
        n_people=2000, max_tx=5, n_terminals=100, invalid_rate=0.05, seed=5)
    o["synth_iot"] = SZ.iot_data_flat(n_devices=200, readings=50, seed=6).sql()
    o["synth_exotic_scalar"] = compile_schema(
        SYNTH_EXOTIC_SCALAR_SCHEMA, seed=11).duckdb_sql(SYNTH_N)
    _ex_nested = compile_schema(
        SYNTH_EXOTIC_NESTED_SCHEMA, seed=11).duckdb_sql(SYNTH_N)
    o["synth_exotic_nested"] = f"""
SELECT rec_id,
       {_sql_arr_str('tags')} AS tags,
       tag_line,
       {_sql_arr_ppm('vec')} AS vec,
       {_sql_arr_str('grid')} AS grid
FROM ({_ex_nested})"""
    o["synth_text_blocks"] = SZ.text_blocks(SYNTH_N, words=40, seed=13).sql()
    _rp = compile_schema(
        [{"name": "rec_id", "class": "id"},
         {"name": "meta", "class": "map", "value": [
             {"name": "level", "class": "int", "min": 1, "max": 6},
             {"name": "code", "class": "word"},
             {"name": "tag", "class": "word"}]}], seed=14)
    o["remove_path"] = (f"SELECT rec_id, meta['level'] AS level, "
                        f"meta['tag'] AS tag FROM ({_rp.duckdb_sql(SYNTH_N)})")
    o["synth_net"] = compile_schema(SYNTH_NET_SCHEMA, seed=16).duckdb_sql(10_000)
    o["synth_registry"] = compile_schema([
        {"name": "order_id", "class": "id"},
        {"name": "cust", "class": "foreign-key", "size": 300, "skew": 1},
        {"name": "amount", "class": "double", "min": 5, "max": 500},
        {"name": "status", "class": "string",
         "dist": {"open": 2, "shipped": 5, "returned": 1}}],
        seed=17).duckdb_sql(SYNTH_N)
    o["synth_cpoc"] = SZ.cpoc_events_sql(n_users=1000, max_tx=16, seed=12)
    o["synth_weblog"] = SZ.weblog(n_users=500, events_per_user=20,
                                  seed=19).sql()
    o["synth_purchases"] = SZ.purchase_log(n_users=300, max_hits=128,
                                           seed=23).sql()
    o["synth_weblog_lines"] = f"""
WITH w AS ({SZ.weblog(n_users=200, events_per_user=10, seed=19).sql()})
SELECT line_id,
       concat_ws(',',
         CAST((t_us + 500) // 1000000 AS VARCHAR) || '.' ||
           lpad(CAST(((t_us + 500) // 1000) % 1000 AS VARCHAR), 3, '0'),
         cookie, ip,
         '"' || query || '"',
         CAST((response_us + 50) // 1000 AS VARCHAR) || '.' ||
           CAST(((response_us + 50) // 100) % 10 AS VARCHAR)) AS log_line
FROM w ORDER BY line_id"""
    _vc = compile_schema(
        [{"name": "rec_id", "class": "id"},
         {"class": "vehicle", "years": "1995-2010"},
         {"class": "commuter", "maxTrips": 4}], seed=15).duckdb_sql(5000)
    o["synth_vehicle_commuter"] = f"""
SELECT * EXCLUDE (trip_start, trip_km, trip_minutes),
       {_sql_arr_str('trip_start')} AS trip_start,
       {_sql_arr_ppm('trip_km')} AS trip_km,
       {_sql_arr_ppm('trip_minutes')} AS trip_minutes
FROM ({_vc})"""

    o["dedup_exact"] = f"""
SELECT digest, COUNT(*) AS n_dups, MIN(doc_id) AS keeper_doc_id
FROM (SELECT doc_id, MD5({_NORM}) AS digest FROM documents)
GROUP BY digest HAVING COUNT(*) > 1 ORDER BY digest"""

    o["dedup_exact_keep"] = f"""
SELECT * FROM documents
QUALIFY ROW_NUMBER() OVER (PARTITION BY MD5({_NORM}) ORDER BY doc_id) = 1
ORDER BY doc_id"""

    o["text_langid"] = """
WITH scored AS (
  SELECT doc_id,
    [{'s': len(list_filter(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'),
               x -> x IN ('the','and','of','to','is','that','with'))), 'l': 'en'},
     {'s': len(list_filter(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'),
               x -> x IN ('el','la','los','las','que','de','una'))), 'l': 'es'},
     {'s': len(list_filter(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'),
               x -> x IN ('le','la','les','des','est','une','dans'))), 'l': 'fr'},
     {'s': len(list_filter(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'),
               x -> x IN ('der','die','das','und','ist','nicht','ein'))), 'l': 'de'},
     {'s': len(list_filter(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'),
               x -> x IN ('il','la','che','di','un','per','con'))), 'l': 'it'},
     {'s': len(list_filter(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'),
               x -> x IN ('o','os','uma','que','de','para','com'))), 'l': 'pt'}
    ] AS pairs
  FROM documents)
SELECT doc_id,
       CASE WHEN list_max(pairs)['s'] > 0 THEN list_max(pairs)['l']
            ELSE 'und' END AS pred_lang,
       list_max(pairs)['s'] AS lang_score
FROM scored ORDER BY doc_id"""

    o["text_quality"] = f"""
WITH base AS (
  SELECT doc_id,
    LENGTH(text) AS q_n_chars,
    len({_WORDS}) AS q_n_words,
    LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) AS alpha,
    LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g')) AS digits,
    LENGTH(REGEXP_REPLACE(text, '[^.,;:!?''"()]', '', 'g')) AS punct,
    len(list_filter({_WORDS}, x -> x IN {_EN})) AS stop,
    len(list_distinct({_WORDS})) AS uniq
  FROM documents),
r AS (
  SELECT doc_id, q_n_chars, q_n_words,
    q_n_chars / GREATEST(q_n_words, 1) AS q_mean_word_len,
    alpha / CAST(GREATEST(q_n_chars, 1) AS DOUBLE) AS q_alpha_ratio,
    digits / CAST(GREATEST(q_n_chars, 1) AS DOUBLE) AS q_digit_ratio,
    punct / CAST(GREATEST(q_n_chars, 1) AS DOUBLE) AS q_punct_ratio,
    stop / CAST(GREATEST(q_n_words, 1) AS DOUBLE) AS q_stopword_ratio,
    uniq / CAST(GREATEST(q_n_words, 1) AS DOUBLE) AS q_distinct_ratio
  FROM base)
SELECT *, CASE WHEN q_n_words < 5 THEN 0.0
    ELSE LEAST(1.0, q_alpha_ratio * 0.5 + q_distinct_ratio * 0.3
               + LEAST(q_stopword_ratio * 4.0, 1.0) * 0.2) END AS quality
FROM r ORDER BY doc_id"""

    o["text_tokens"] = f"""
SELECT doc_id,
  len({_WORDS}) AS tok_whitespace,
  len(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]|\\s+')) AS tok_bpe_ish,
  CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS tok_chars_div4
FROM documents ORDER BY doc_id"""

    o["ann_bruteforce"] = """
WITH normed AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      SQRT(list_sum(list_transform(embedding,
           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
  FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM normed WHERE query_id < 5),
scored AS (
  SELECT query_id, c.vec_id AS cand_id,
    ROUND(list_sum(list_transform(list_zip(qv, c.v), p -> p[1] * p[2])), 6)
      AS cosine
  FROM normed c CROSS JOIN q WHERE c.vec_id <> query_id)
SELECT query_id, cand_id, cosine,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, cand_id) AS rank
FROM scored QUALIFY rank <= 10 ORDER BY query_id, rank"""

    # sketching / similarity mirrors (portable h60 + literal
    # hyperplanes make these exactly replayable — see oracles.py)
    from nifi_datasynthesizer_spark import oracles as OR

    o["dedup_minhash"] = OR.minhash_pairs_sql(
        num_hashes=64, bands=16, shingle_k=5, jaccard_threshold=0.5)
    o["dedup_simhash"] = OR.simhash_pairs_sql(bits=60, hamming_max=3, shingle_k=2)
    o["dedup_ngram_jaccard"] = OR.ngram_jaccard_sql(n=3, threshold=0.4)
    o["dedup_agreement"] = OR.dedup_agreement_sql()
    o["dedup_fuzzy"] = OR.fuzzy_pairs_sql(max_dist_ppm=300_000)
    o["dedup_groups"] = OR.dup_groups_sql(OR.minhash_pairs_sql(
        num_hashes=64, bands=16, shingle_k=5, jaccard_threshold=0.5))
    o["corpus_dedup_report"] = OR.dedup_report_sql(OR.minhash_pairs_sql(
        num_hashes=64, bands=16, shingle_k=5, jaccard_threshold=0.5))
    o["dedup_minhash_eval"] = OR.minhash_eval_sql(sample_mod=2,
                                                  jaccard_threshold=0.5)
    o["dedup_threshold_sweep"] = OR.threshold_sweep_sql(min_threshold=0.3)
    o["io_schema_evolution"] = """
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS snap, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(0 AS BIGINT) AS n_quality, CAST(NULL AS BIGINT) AS sum_quality
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS BIGINT)
  FROM documents WHERE doc_id % 2 = 1)
ORDER BY snap"""
    _csig = OR.h60_sql("CAST(doc_id AS VARCHAR) || ':' || text")
    o["io_compaction"] = f"""
SELECT CAST(64 AS BIGINT) AS n_files_before,
       CAST(4 AS BIGINT) AS n_files_after,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor({_csig}) AS BIGINT) AS digest
FROM documents"""
    # the fixture's layout is fully determined by the corpus: bucket
    # files are one row group of their pmod population, the solid
    # export is one row group of the whole corpus, hot.parquet splits
    # every 100 rows (pyarrow row_group_size) with the remainder last
    o["io_rowgroup_audit"] = """
WITH b AS (SELECT doc_id % 8 AS bucket, COUNT(*) AS n
           FROM documents GROUP BY 1),
hot AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id < 800),
tot AS (SELECT COUNT(*) AS n FROM documents),
shapes AS (
  SELECT 'bucket=' || bucket AS file, CAST(1 AS BIGINT) AS n_rowgroups,
         n AS n_rows, n AS min_rg_rows, n AS max_rg_rows FROM b
  UNION ALL
  SELECT 'hot', CAST(CEIL(n / 100.0) AS BIGINT), n,
         CASE WHEN n % 100 = 0 THEN LEAST(n, 100) ELSE n % 100 END,
         LEAST(n, 100)
  FROM hot
  UNION ALL
  SELECT 'solid', CAST(1 AS BIGINT), n, n, n FROM tot)
SELECT file, n_rowgroups, n_rows, min_rg_rows, max_rg_rows,
       max_rg_rows > 500 AS oversized
FROM shapes ORDER BY file"""
    # the one-row summary over the same deterministic layout; the
    # share divide mirrors Spark's double-divide + cast-truncation
    # (FLOOR before CAST — DuckDB's double→BIGINT cast rounds)
    o["io_rowgroup_summary"] = """
WITH b AS (SELECT doc_id % 8 AS bucket, COUNT(*) AS n
           FROM documents GROUP BY 1),
hot AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id < 800),
tot AS (SELECT COUNT(*) AS n FROM documents),
shapes AS (
  SELECT CAST(1 AS BIGINT) AS n_rowgroups, n AS n_rows,
         n AS max_rg FROM b
  UNION ALL
  SELECT CAST(CEIL(n / 100.0) AS BIGINT), n, LEAST(n, 100) FROM hot
  UNION ALL
  SELECT CAST(1 AS BIGINT), n, n FROM tot)
SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_rowgroups) AS BIGINT) AS n_rowgroups,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(CEIL(SUM(n_rowgroups) / 32.0) AS BIGINT) AS scan_waves,
       SUM(n_rowgroups) < 32 AS parallelism_limited,
       CAST(FLOOR(MAX(n_rows) * 1000000.0
                  / GREATEST(SUM(n_rows), 1)) AS BIGINT)
         AS max_file_share_ppm,
       CAST(SUM(CASE WHEN max_rg > 500 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oversized
FROM shapes"""
    o["io_column_stats"] = OR.column_stats_sql(
        ["event_id", "user_id", "event_type", "cents"],
        table="(SELECT event_id, user_id, event_type, "
              "CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events)")
    o["io_column_stats_sketch"] = OR.column_stats_sketch_sql(
        ["event_id", "user_id", "event_type", "cents"],
        table="(SELECT event_id, user_id, event_type, "
              "CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events)")
    o["ann_range_search"] = OR.ann_range_sql(min_cosine=0.2)
    o["text_boilerplate"] = OR.bigram_boilerplate_sql(min_df=3)
    o["graph_kcore"] = OR.kcore_sql(OR.minhash_pairs_sql(
        num_hashes=64, bands=16, shingle_k=5, jaccard_threshold=0.5),
        k=2, rounds=3)
    o["graph_jaccard"] = OR.neighbor_jaccard_sql(OR.minhash_pairs_sql(
        num_hashes=64, bands=16, shingle_k=5, jaccard_threshold=0.5),
        max_center_degree=8)
    o["graph_distances"] = OR.bfs_distances_sql(
        OR.minhash_pairs_sql(num_hashes=64, bands=16, shingle_k=5,
                             jaccard_threshold=0.5),
        "SELECT DISTINCT doc_id AS node FROM documents WHERE doc_id < 50",
        rounds=4)
    o["geo_grid_density"] = OR.grid_density_sql(
        compile_schema(GEO_SCHEMA, seed=31).duckdb_sql(GEO_N),
        cell_udeg=GEO_RADIUS_UDEG, min_points=2)
    _abarm = ("(" + OR.h60_sql("CAST(user_id AS VARCHAR) || ':ab7'")
              + ") % 2")
    o["events_ab_metrics"] = f"""
WITH pu AS (SELECT {_abarm} AS arm, user_id,
                   COUNT(*) AS n_ev,
                   SUM(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS n_pur,
                   SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(FLOOR(value * 100) AS BIGINT)
                            ELSE 0 END) AS cents
            FROM events GROUP BY 1, 2)
SELECT arm, CAST(SUM(n_ev) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN n_pur > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_converters,
       CAST(SUM(CASE WHEN n_pur > 0 THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS conversion_ppm,
       CAST(SUM(n_ev) * 1000000 // COUNT(*) AS BIGINT)
         AS events_per_user_ppm,
       CAST(SUM(cents) AS BIGINT) AS purchase_cents
FROM pu GROUP BY arm ORDER BY arm"""
    _srmarm = ("(" + OR.h60_sql("CAST(user_id AS VARCHAR) || ':srm'")
               + ") % 4")
    o["events_ab_srm"] = f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
c AS (SELECT {_srmarm} AS arm, COUNT(*) AS n_arm FROM u GROUP BY 1),
t AS (SELECT SUM(n_arm) AS n_total,
             SUM((4 * n_arm - (SELECT SUM(n_arm) FROM c))
                 * (4 * n_arm - (SELECT SUM(n_arm) FROM c))) AS s
      FROM c)
SELECT arm, CAST(n_arm AS BIGINT) AS n_arm,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(((4 * n_arm - n_total) * (4 * n_arm - n_total) * 1000000)
            // (4 * n_total) AS BIGINT) AS dev_q6,
       CAST((s * 1000000) // (4 * n_total) AS BIGINT) AS chi2_q6,
       (s * 1000000) // (4 * n_total) > 16266000 AS srm_flag
FROM c, t ORDER BY arm"""
    o["streaming_key_counts_native"] = """
SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2 ORDER BY event_type, user_id"""
    o["text_fingerprint"] = OR.fingerprint_sql(ngram=8)
    o["text_entropy"] = OR.word_entropy_sql()
    o["text_readability"] = OR.readability_sql()
    o["text_quality_calibration"] = OR.classifier_calibration_sql()
    o["text_embed"] = OR.hash_embed_sql(dim=16)
    o["corpus_stats"] = OR.corpus_stats_sql()
    o["corpus_stats_sketch"] = OR.corpus_stats_sketch_sql()
    o["dedup_embedding"] = OR.dedup_embedding_sql(
        threshold=0.95, bucket_bits=8, seed=7,
        src=OR.PLANTED_EMBEDDINGS)
    o["ann_lsh"] = OR.ann_lsh_sql(k=10, bucket_bits=6, seed=7)
    o["ann_lsh_multiprobe"] = OR.ann_lsh_multiprobe_sql(
        k=10, bucket_bits=6, seed=7)
    _pl, _ = OR._langid_exprs()
    o["text_langid_eval"] = f"""
WITH p AS (SELECT lang, {_pl} AS pred_lang FROM documents),
c AS (SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY 1, 2)
SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT)
         AS share_of_true_ppm
FROM c ORDER BY lang, pred_lang"""
    o["ann_ivf"] = OR.ann_ivf_sql(k=10, n_centroids=16, n_probe=4)
    o["ann_ivf_derived"] = OR.ann_ivf_derived_sql(k=10, n_probe=4)
    o["ann_ivf_arrow"] = OR.ann_ivf_sql(k=10, n_centroids=80, n_probe=4)
    o["ann_ivf_two_level"] = OR.assign_cells_sql(n_cells=80)
    # max_bits=24 keeps the oracle's literal-hyperplane headroom at
    # 16.7M vectors for the derive_div=1 derivation (r9 ADVICE: at 16
    # bits Spark out-derives the oracle above ~65k rows ≈ sf3)
    o["dedup_embedding_derived"] = OR.dedup_embedding_derived_sql(
        threshold=0.95, seed=7, src=OR.PLANTED_EMBEDDINGS, derive_div=1,
        max_bits=24)
    o["media_frames"] = OR.media_frames_sql(n=200, every_ms=5000)
    o["media_segments"] = OR.media_segments_sql(n=200, win_ms=5000,
                                                hop_ms=2500)
    o["corpus_clean"] = OR.corpus_clean_sql(min_quality=0.3,
                                            near_dup_threshold=0.5)
    _clean_txt = OR.corpus_clean_sql(min_quality=0.3,
                                     near_dup_threshold=0.5,
                                     cols="doc_id, text")
    o["corpus_build"] = OR.pack_sequences_sql(
        seq_tokens=256, shards=8, table=f"({_clean_txt}) cleaned")
    o["corpus_sample"] = (
        "SELECT doc_id, source, lang, n_chars FROM ("
        + OR.sample_stratified_sql(SAMPLE_RATES, default_rate=0.0)
        + ") ORDER BY doc_id")
    _h = ("(('0x' || substr(md5(doc_id::VARCHAR || ':3'), 1, 15))::BIGINT)")
    o["corpus_sample_k"] = f"""
SELECT doc_id, source, samp_rank FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {_h}, doc_id) AS samp_rank
  FROM documents)
WHERE samp_rank <= 5 ORDER BY source, samp_rank"""
    o["corpus_bpe"] = OR.bpe_merges_sql(rounds=4)
    o["corpus_decontaminate"] = OR.decontaminate_sql(
        ngram=8, eval_pred="doc_id % 101 = 0")
    o["text_chunks"] = OR.chunk_words_sql(max_words=24)
    o["dedup_spans"] = OR.dedup_spans_sql(span_words=8)
    o["dedup_substring"] = OR.repeated_substrings_sql(w=8, min_docs=2)
    o["dedup_substring_max"] = OR.longest_repeated_span_sql()
    o["dedup_substring_strip"] = OR.strip_repeated_substrings_sql(
        w=8, min_docs=2)
    o["text_ngram_lm"] = OR.ngram_lm_score_sql(holdout_mod=5)
    o["corpus_shuffle"] = OR.corpus_shuffle_sql(shards=8, salt=1)
    o["embed_cluster"] = OR.cluster_embeddings_sql(k=8, iters=2, dim=64,
                                                   fit_mod=2)
    o["dedup_semantic"] = OR.semantic_dedup_sql(k=8, iters=2,
                                                threshold=0.4, dim=64,
                                                fit_mod=2)
    o["embed_pq"] = OR.pq_encode_sql(m=16, k=16, iters=2, dim=64,
                                     fit_mod=2)
    o["ann_pq"] = OR.pq_search_sql("vec_id < 5", k_top=10, m=16, k=16,
                                   iters=2, dim=64, fit_mod=2)
    o["ann_ivfpq"] = OR.ivfpq_search_sql("vec_id < 5", k_top=10,
                                         n_cells=16, n_probe=4, m=16,
                                         k=16, iters=2, coarse_iters=1,
                                         dim=64, fit_mod=2)
    o["ann_pq_rerank"] = OR.pq_rerank_sql("vec_id < 5", k_top=10,
                                          shortlist=8, m=16, k=16,
                                          iters=2, dim=64, fit_mod=2)
    o["ann_ivfpq_rerank"] = OR.ivfpq_rerank_sql("vec_id < 5", k_top=10,
                                                shortlist=4, n_cells=16,
                                                n_probe=8, m=16, k=16,
                                                iters=2, coarse_iters=1,
                                                dim=64, fit_mod=2)
    from nifi_datasynthesizer_spark.operators.logs import \
        event_lines_roundtrip_sql
    o["events_parse_lines"] = event_lines_roundtrip_sql()
    o["text_bm25"] = OR.bm25_topk_sql(BM25_QUERIES, k=10)
    o["corpus_ngrams"] = OR.corpus_ngrams_sql(n=2, k=20)
    o["corpus_pack"] = OR.pack_sequences_sql(seq_tokens=256, shards=8)
    o["corpus_mix"] = OR.corpus_mix_report_sql()
    o["corpus_pack_pairs"] = OR.pack_pairs_sql(seq_tokens=256, shards=8)
    o["corpus_balance"] = OR.corpus_balance_sql("lang")
    o["events_cdc_apply"] = OR.cdc_apply_sql(
        "CASE WHEN event_type = 'error' THEN 'delete' "
        "WHEN event_type = 'signup' THEN 'insert' "
        "ELSE 'update' END")
    o["events_attribution"] = OR.last_touch_attribution_sql()
    o["corpus_token_budget"] = OR.corpus_token_budget_sql()
    o["corpus_overlap"] = OR.corpus_overlap_sql()
    o["graph_components"] = OR.graph_components_sql()
    o["events_sequences"] = OR.frequent_sequences_sql()
    o["sketch_ams"] = OR.ams_f2_sql()
    o["corpus_curriculum"] = OR.corpus_curriculum_sql()
    o["events_dwell"] = OR.dwell_times_sql()
    o["corpus_filter_report"] = OR.corpus_filter_report_sql()
    o["events_wau"] = OR.rolling_active_users_sql()
    o["events_rfm"] = OR.rfm_segments_sql()
    o["events_histogram"] = OR.log_histogram_sql()
    o["events_markov_stationary"] = OR.markov_stationary_sql(iters=10)
    o["embed_group_drift"] = OR.group_drift_sql()
    o["embed_outliers"] = OR.embedding_outliers_sql()
    o["events_cohort_ltv"] = OR.cohort_ltv_sql()
    o["sketch_cms_eval"] = OR.cm_error_eval_sql(sample_mod=101)
    _ab_h = OR.h60_sql("CAST(user_id AS VARCHAR) || ':ab7'")
    o["events_ab_assign"] = f"""
WITH s AS (SELECT ({_ab_h}) % 2 AS arm, user_id AS u,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
base AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_events,
                CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
                CAST(SUM(cents) AS BIGINT) AS sum_cents
         FROM s GROUP BY arm),
hist AS (SELECT arm, cents, COUNT(*) AS c FROM s GROUP BY 1, 2),
cdf AS (SELECT arm, cents, c,
               SUM(c) OVER (PARTITION BY arm ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER (PARTITION BY arm) AS n
        FROM hist),
qs AS (SELECT arm,
              MIN(CASE WHEN cum * 100 >= 50 * n THEN cents END)
                AS p50_cents,
              MIN(CASE WHEN cum * 100 >= 90 * n THEN cents END)
                AS p90_cents
       FROM cdf GROUP BY arm)
SELECT arm, n_events, n_users, sum_cents,
       CAST(sum_cents * 1000000 // n_events AS BIGINT)
         AS mean_cents_ppm,
       CAST(p50_cents AS BIGINT) AS p50_cents,
       CAST(p90_cents AS BIGINT) AS p90_cents
FROM base JOIN qs USING (arm) ORDER BY arm"""
    o["corpus_tokenizer_fertility"] = f"""
WITH tok AS ({OR.bpe_tokenize_sql(rounds=4)}),
j AS (SELECT t.doc_id, t.n_words, t.n_bpe_tokens, d.lang,
             CAST(LENGTH(d.text) AS BIGINT) AS nc
      FROM tok t JOIN documents d USING (doc_id))
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS words,
       CAST(SUM(n_bpe_tokens) AS BIGINT) AS bpe_tokens,
       CAST(SUM(n_bpe_tokens) * 1000000 // SUM(n_words) AS BIGINT)
         AS fertility_ppm,
       CAST(SUM(nc) * 1000000 // SUM(n_bpe_tokens) AS BIGINT)
         AS chars_per_token_ppm
FROM j GROUP BY lang ORDER BY lang"""
    o["corpus_weighted_sample"] = OR.weighted_sample_sql(k=100)
    o["corpus_span_corruption"] = OR.span_corruption_sql()
    o["corpus_fim"] = OR.fim_transform_sql()
    o["corpus_interleave"] = OR.interleave_sources_sql(shards=32)
    o["ann_filtered"] = OR.ann_filtered_sql(k=10, oversample=4)
    _zsql = IO.zorder_key_sql("x", "y", bits=4)
    o["io_zorder"] = f"""
WITH s AS (SELECT (user_id % 16) AS x,
                  (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   % 16) AS y
           FROM events),
z AS (SELECT x, y, {_zsql} AS z FROM s)
SELECT z // 16 AS zbucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
       CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y,
       CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT)
         AS span_product
FROM z GROUP BY zbucket ORDER BY zbucket"""
    o["corpus_upsample"] = OR.corpus_upsample_sql(
        {"src0": 2.5, "src1": 3.0, "src2": 0.5})
    o["ann_recall_eval"] = OR.ann_recall_eval_sql()
    o["media_phash_dedup"] = OR.media_phash_dedup_sql()
    o["io_partition_prune"] = """
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events WHERE event_type = 'purchase'
GROUP BY day ORDER BY day"""
    o["embed_knn_graph"] = OR.knn_graph_sql()
    o["streaming_cdc_apply"] = OR.cdc_apply_sql(
        "CASE WHEN event_type = 'error' THEN 'delete' "
        "WHEN event_type = 'signup' THEN 'insert' "
        "ELSE 'update' END")
    o["corpus_diff"] = OR.corpus_diff_sql(
        "doc_id % 3 <> 0", "doc_id % 5 <> 0",
        new_text="CASE WHEN doc_id % 7 = 0 THEN text || ' v2' "
                 "ELSE text END")
    o["text_repetition"] = OR.repetition_stats_sql()
    _pii_counts, _pii_scrubbed = OR.pii_scrub_exprs()
    o["text_pii_scrub"] = f"""
SELECT rec_id, {_pii_scrubbed} AS text_scrubbed,
       {', '.join(_pii_counts)}
FROM (SELECT rec_id,
             CONCAT_WS(' ', 'contact', em, 'from', ip, 'ssn', ssn,
                       'call', ph) AS text
      FROM ({compile_schema(SYNTH_PII_SCHEMA, seed=17).duckdb_sql(SYNTH_N)}))
ORDER BY rec_id"""
    _url_case = """CASE
  WHEN t = 0 THEN 'https://site' || CAST(d AS VARCHAR)
                  || '.example.com/page' || CAST(p AS VARCHAR)
  WHEN t = 1 THEN 'HTTPS://' || upper('site' || CAST(d AS VARCHAR)
                  || '.example.com') || ':443/page'
                  || CAST(p AS VARCHAR) || '/'
  WHEN t = 2 THEN 'https://site' || CAST(d AS VARCHAR)
                  || '.example.com/page' || CAST(p AS VARCHAR)
                  || '?utm_source=feed&utm_medium=social'
  ELSE 'https://site' || CAST(d AS VARCHAR) || '.example.com/page'
       || CAST(p AS VARCHAR) || '?b=2&a=1&utm_campaign=x' END"""
    from nifi_datasynthesizer_spark.operators.curation import \
        tracking_param_prefixes
    _track_pred = " ".join(f"AND NOT starts_with(x, '{p}')"
                           for p in tracking_param_prefixes())
    o["dedup_url"] = f"""
WITH src AS (SELECT rec_id, d, p, t
             FROM ({compile_schema(SYNTH_URL_SCHEMA,
                                   seed=29).duckdb_sql(SYNTH_N)})),
u AS (SELECT rec_id, {_url_case} AS url FROM src),
c AS (SELECT rec_id, url,
  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))
    AS scheme,
  regexp_replace(lower(regexp_extract(url,
    '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)), ':(80|443)$', '')
    AS host,
  regexp_replace(regexp_extract(url,
    '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1), '/$', '')
    AS path,
  regexp_extract(url, '\\?([^#]*)', 1) AS qs
  FROM u),
k AS (SELECT rec_id, url,
             CASE WHEN scheme <> ''
                  THEN scheme || '://' || host || path ||
                       CASE WHEN cq <> '' THEN '?' || cq ELSE '' END
                  ELSE url END AS canonical_url
      FROM (SELECT *, array_to_string(list_sort(list_filter(
                string_split(qs, '&'),
                x -> x <> '' {_track_pred})), '&') AS cq
            FROM c))
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants,
       MIN(rec_id) AS first_rec
FROM k GROUP BY canonical_url HAVING COUNT(*) >= 2
ORDER BY canonical_url"""
    o["synth_correlate_pair"] = SZ.correlate_pair_sql(
        "(SELECT c_custkey, c_name, c_nationkey FROM customer)",
        [{"name": "risk_score", "class": "int", "min": 300, "max": 850}],
        [{"name": "churn_p", "class": "double", "min": 0.0, "max": 1.0},
         {"name": "plan", "class": "string",
          "dist": {"basic": 5, "plus": 3, "max": 1}}],
        "c_custkey", universe=800, seed=21)
    o["synth_correlate"] = SZ.correlate_sql(
        "customer",
        [{"name": "risk_score", "class": "int", "min": 300, "max": 850},
         {"name": "tier", "class": "string",
          "dist": {"gold": 1, "silver": 3, "bronze": 6}}],
        "c_custkey", universe=1000, seed=8)

    # media_features: the stub feature is integer ppm lanes over the
    # ASCII bytes of sha256(seed || id) — exact in both engines.  The
    # mapInPandas plumbing on the Spark side is the thing under test;
    # the mirror recomputes the same fold in pure SQL.
    o["media_features"] = """
WITH m AS (
  SELECT CAST(range AS BIGINT) AS media_id,
         sha256('9' || CAST(range AS VARCHAR)) AS h
  FROM range(500)
), lanes AS (
  SELECT media_id, h,
    list_transform(range(0, 16), k ->
      ord(substr(h, CAST(k AS INT) + 1, 1))
      + ord(substr(h, CAST(k AS INT) + 17, 1))
      + ord(substr(h, CAST(k AS INT) + 33, 1))
      + ord(substr(h, CAST(k AS INT) + 49, 1))) AS ls
  FROM m
)
, feat AS (
  SELECT media_id,
    list_transform(ls, x ->
        CAST(x * 1000000 // list_sum(ls) AS BIGINT) / 1000000.0) AS feature
  FROM lanes
)
SELECT media_id,
  CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       ELSE 'video' END AS kind,
  CAST(64 AS BIGINT) AS n_bytes,
  """ + _sql_arr_ppm('feature') + """ AS feature
FROM feat ORDER BY media_id
"""

    o["events_funnel"] = """
WITH e AS (SELECT user_id, event_type AS st, epoch_us(ts) AS tus
           FROM events
           WHERE event_type IN ('signup', 'view', 'purchase')),
g AS (SELECT user_id,
             list_sort(list(tus) FILTER (WHERE st = 'signup'))[1:64] AS ts0,
             list_sort(list(tus) FILTER (WHERE st = 'view'))[1:64] AS ts1,
             list_sort(list(tus) FILTER (WHERE st = 'purchase'))[1:64] AS ts2
      FROM e GROUP BY user_id),
f0 AS (SELECT user_id, ts1, ts2, ts0[1] AS t0 FROM g),
f1 AS (SELECT *, list_min(list_filter(ts1, x -> x > t0)) AS t1 FROM f0),
f2 AS (SELECT *, list_min(list_filter(ts2, x -> x > t1)) AS t2 FROM f1)
SELECT user_id,
       (CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END
        + CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS max_step,
       t0 AS t_first_us, t2 AS t_final_us
FROM f2
WHERE (CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END
       + CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
       + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) > 0
ORDER BY user_id"""

    _fw_dl = 7 * 86400 * 1_000_000
    o["events_funnel_windowed"] = f"""
WITH e AS (SELECT user_id, event_type AS st, epoch_us(ts) AS tus
           FROM events
           WHERE event_type IN ('signup', 'view', 'purchase')),
g AS (SELECT user_id,
             list_sort(list(tus) FILTER (WHERE st = 'signup'))[1:64] AS ts0,
             list_sort(list(tus) FILTER (WHERE st = 'view'))[1:64] AS ts1,
             list_sort(list(tus) FILTER (WHERE st = 'purchase'))[1:64] AS ts2
      FROM e GROUP BY user_id),
f0 AS (SELECT user_id, ts1, ts2, ts0[1] AS t0 FROM g),
f1 AS (SELECT *, list_min(list_filter(ts1,
              x -> x > t0 AND x <= t0 + {_fw_dl})) AS t1 FROM f0),
f2 AS (SELECT *, list_min(list_filter(ts2,
              x -> x > t1 AND x <= t0 + {_fw_dl})) AS t2 FROM f1)
SELECT user_id,
       (CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END
        + CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS max_step,
       t0 AS t_first_us, t2 AS t_final_us
FROM f2
WHERE t0 IS NOT NULL
ORDER BY user_id"""

    o["events_ohlc"] = """
WITH e AS (SELECT user_id, event_id,
                  epoch_us(ts) // 86400000000 AS bucket,
                  epoch_us(ts) AS tus,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents
           FROM events),
r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                ORDER BY tus, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                ORDER BY tus DESC, event_id DESC) AS rn_d
      FROM e)
SELECT user_id, bucket,
       MAX(CASE WHEN rn_a = 1 THEN cents END) AS open_c,
       MAX(cents) AS high_c, MIN(cents) AS low_c,
       MAX(CASE WHEN rn_d = 1 THEN cents END) AS close_c,
       COUNT(*) AS n_ticks
FROM r GROUP BY user_id, bucket ORDER BY user_id, bucket"""

    o["events_anomaly"] = """
WITH e AS (SELECT user_id, event_id,
                  CAST(FLOOR(value * 100) AS BIGINT) AS c FROM events),
g AS (SELECT *, COUNT(*) OVER w AS n,
             CAST(SUM(c) OVER w AS BIGINT) AS s,
             CAST(SUM(c * c) OVER w AS BIGINT) AS ss
      FROM e WINDOW w AS (PARTITION BY user_id))
SELECT user_id, event_id, c, n
FROM g
WHERE (c * n - s) * (c * n - s) > 4 * (n * ss - s * s)
ORDER BY event_id"""

    o["dedup_cross"] = OR.minhash_cross_sql("doc_id % 7 = 0")
    o["sketch_distinct"] = OR.fm_distinct_sql("event_type", "user_id")
    o["sketch_hll"] = OR.hll_distinct_sql("event_type", "user_id")
    o["sketch_kmv"] = OR.kmv_sketch_sql("source", k=64)
    o["sketch_audience_overlap"] = OR.kmv_id_sketch_sql(
        "event_type", "user_id", k=64)
    o["corpus_dsir"] = OR.dsir_weights_sql(
        "len(list_distinct(W)) * 1000 >= len(W) * 600")
    o["sketch_bloom"] = OR.bloom_semi_join_sql("BUILDING")
    o["sketch_merge"] = OR.fm_rollup_sql("event_type", "user_id")
    o["sketch_heavy_hitters"] = OR.cm_heavy_hitters_sql(k=10)
    o["media_dedup"] = OR.media_dedup_sql(n=400, seed=23, universe=120)
    _hq = ", ".join(
        f"(MIN(CASE WHEN cum * 100 >= total * {qt} THEN bucket END) + 1)"
        f" * 500 AS p{qt}_edge_c" for qt in (50, 90, 99))
    o["sketch_quantiles"] = f"""
WITH h AS (SELECT event_type AS grp,
                  CAST(FLOOR(CAST(FLOOR(value * 100) AS BIGINT) / 500)
                       AS BIGINT) AS bucket
           FROM events),
hist AS (SELECT grp, bucket, COUNT(*) AS n FROM h GROUP BY grp, bucket),
c AS (SELECT grp, bucket, n,
             CAST(SUM(n) OVER (PARTITION BY grp ORDER BY bucket
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(SUM(n) OVER (PARTITION BY grp) AS BIGINT) AS total
      FROM hist)
SELECT grp AS event_type, {_hq},
       COUNT(*) AS n_buckets, MAX(total) AS n_total
FROM c GROUP BY grp ORDER BY event_type"""
    o["sketch_topk"] = OR.upper_quantile_sql(
        "event_type", "value", "event_id", max_retained=4096,
        quantiles=(0.9, 0.99, 0.999))
    o["geo_near"] = OR.geo_near_sql(
        compile_schema(GEO_SCHEMA, seed=31).duckdb_sql(GEO_N),
        radius_udeg=GEO_RADIUS_UDEG)
    o["graph_triangles"] = OR.triangles_sql(OR.minhash_pairs_sql(
        num_hashes=64, bands=16, shingle_k=5, jaccard_threshold=0.5))
    o["graph_pagerank"] = OR.pagerank_sql(OR.minhash_pairs_sql(
        num_hashes=64, bands=16, shingle_k=5, jaccard_threshold=0.5))
    o["graph_label_prop"] = OR.label_propagation_sql(OR.minhash_pairs_sql(
        num_hashes=64, bands=16, shingle_k=5, jaccard_threshold=0.5),
        iters=3)
    # the streamed foreachBatch dedup drains to the batch answer
    o["streaming_dedup_cross"] = OR.minhash_cross_sql("doc_id % 7 = 0")
    # the signature store round-trips losslessly, so the stored-side
    # run replays under the SAME cross-dedup oracle
    o["io_signature_store"] = OR.minhash_cross_sql("doc_id % 7 = 0")
    o["dedup_containment"] = OR.containment_pairs_sql(
        n=3, threshold=0.8, df_cap=64)
    o["embed_pca"] = OR.pca_power_sql(iters=2, dim=64)

    o["io_roundtrip"] = f"""
WITH g AS ({compile_schema(SYNTH_BASIC_SCHEMA, seed=21).duckdb_sql(5000)})
SELECT segment, COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(price * 100) AS BIGINT)) AS BIGINT)
         AS price_cents,
       COUNT(DISTINCT state) AS n_states
FROM g GROUP BY segment ORDER BY segment"""

    o["events_transitions"] = """
WITH s AS (SELECT event_type AS src,
                  LEAD(event_type) OVER (PARTITION BY user_id
                                         ORDER BY epoch_us(ts), event_id)
                    AS dst
           FROM events),
p AS (SELECT src, dst, COUNT(*) AS n FROM s
      WHERE dst IS NOT NULL GROUP BY src, dst),
t AS (SELECT src, CAST(SUM(n) AS BIGINT) AS row_n FROM p GROUP BY src)
SELECT src, dst, n, CAST(FLOOR(n * 1000000 / row_n) AS BIGINT) AS p_ppm
FROM p JOIN t USING (src) ORDER BY src, dst"""

    o["events_scd2"] = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 86400000000 AS vfrom,
                  epoch_us(ts) AS tus,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
latest AS (SELECT user_id, vfrom, cents FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, vfrom
                                          ORDER BY tus DESC, event_id DESC)
                       AS rn
             FROM e) WHERE rn = 1)
SELECT user_id, vfrom,
       COALESCE(LEAD(vfrom) OVER (PARTITION BY user_id ORDER BY vfrom),
                4611686018427387904) AS vto,
       cents AS value_cents
FROM latest ORDER BY user_id, vfrom"""

    _ewma_terms = " + ".join(
        f"CAST(FLOOR(COALESCE(LAG(cents, {d}) OVER w, 0) / {2 ** d}) "
        f"AS BIGINT)" for d in range(8))
    o["events_ewma"] = f"""
WITH daily AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                      CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                        AS cents
               FROM events GROUP BY user_id, day)
SELECT user_id, day, cents, ({_ewma_terms}) AS ewma_q
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day)
ORDER BY user_id, day"""

    o["events_gap_fill"] = """
WITH daily AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                      CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                        AS cents
               FROM events GROUP BY user_id, day),
wp AS (SELECT *, LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
       FROM daily),
tagged AS (SELECT user_id, day AS obs_day, cents,
                  unnest(range(COALESCE(prev + 1, day), day + 1)) AS day
           FROM wp)
SELECT user_id, day,
       CASE WHEN day = obs_day THEN cents
            ELSE LAST_VALUE(CASE WHEN day = obs_day THEN cents END
                            IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       END AS cents,
       CAST(day = obs_day AS INT) AS observed
FROM tagged ORDER BY user_id, day"""

    o["events_rolling"] = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events)
SELECT user_id, event_id,
       COUNT(*) OVER w AS n_1h,
       CAST(SUM(cents) OVER w AS BIGINT) AS cents_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY tus
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
ORDER BY event_id"""

    o["events_pivot"] = """
SELECT CAST(ts AS DATE) AS day,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS purchase,
       CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
FROM events GROUP BY day ORDER BY day"""

    o["events_rollup"] = """
WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
r AS (SELECT COALESCE(event_type, '(all)') AS event_type,
             COALESCE(day, DATE '1900-01-01') AS day,
             COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS cents
      FROM e GROUP BY ROLLUP (event_type, day))
SELECT * FROM r ORDER BY event_type, day"""

    o["events_cube"] = """
WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
r AS (SELECT COALESCE(event_type, '(all)') AS event_type,
             COALESCE(day, DATE '1900-01-01') AS day,
             COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS cents
      FROM e GROUP BY CUBE (event_type, day))
SELECT * FROM r ORDER BY event_type, day"""

    o["text_keywords"] = OR.tfidf_keywords_sql(k=3)
    o["text_fluency"] = OR.bigram_fluency_sql()
    o["text_classify"] = OR.classify_score_sql(dim=64, seed=11)
    o["text_train_classifier"] = OR.train_classifier_sql(
        dim=16, rounds=16, lr_num=1600)
    o["text_oov"] = f"""
WITH wc AS (SELECT w, COUNT(*) AS n
            FROM (SELECT unnest(string_split({OR._NORM}, ' ')) AS w
                  FROM documents)
            WHERE w <> '' GROUP BY w),
v AS (SELECT list(w ORDER BY n DESC, w) AS vl
      FROM (SELECT w, n FROM wc ORDER BY n DESC, w LIMIT 100)),
d AS (SELECT doc_id, string_split({OR._NORM}, ' ') AS tk FROM documents)
SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(tk, t -> NOT list_contains(v.vl, t)))
            AS BIGINT) AS n_oov,
       CAST(FLOOR(len(list_filter(tk, t -> NOT list_contains(v.vl, t)))
                  * 1000000 / len(tk)) AS BIGINT) AS oov_ppm
FROM d CROSS JOIN v ORDER BY doc_id"""
    o["corpus_split"] = OR.split_sql(val_frac=0.1, test_frac=0.1, salt=3)
    o["corpus_split_groups"] = OR.split_by_group_sql(
        val_frac=0.1, test_frac=0.1, salt=3)
    o["corpus_tokenize"] = OR.bpe_tokenize_sql(rounds=4)
    o["embed_quantize"] = OR.quantize_int8_sql(dim=64)
    o["search_rrf"] = OR.rrf_fuse_sql(BM25_QUERIES, k=10, pool=20)
    # streaming interval join drains to exactly the batch join's rows
    o["streaming_stream_join"] = """
SELECT v.event_id AS view_id, p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOUR
ORDER BY view_id, purchase_id"""

    # left-outer twin: unmatched views report iff the final watermark
    # (floor_ms(max ts) - 12h) passed their eviction time (l_ts + 12h)
    # — the deterministic bounded-drain rule derived in
    # streaming.interval_join's docstring
    o["streaming_stream_join_left"] = """
WITH mx AS (SELECT LEAST(
              (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 FROM events
               WHERE event_type = 'view'),
              (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 FROM events
               WHERE event_type = 'purchase')) AS wm_base_us),
v AS (SELECT event_id AS view_id, ts AS vts, user_id FROM events
      WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, ts AS pts, user_id FROM events
      WHERE event_type = 'purchase'),
lj AS (SELECT v.view_id, p.purchase_id, v.vts,
              epoch_us(p.pts) - epoch_us(v.vts) AS gap_us
       FROM v LEFT JOIN p
         ON v.user_id = p.user_id
        AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 12 HOUR)
SELECT view_id, COALESCE(purchase_id, -1) AS purchase_id,
       COALESCE(gap_us, -1) AS gap_us
FROM lj, mx
WHERE purchase_id IS NOT NULL
   OR epoch_us(vts) + 43200000000 < wm_base_us - 43200000000
ORDER BY view_id, purchase_id"""

    o["streaming_stream_join_right"] = """
WITH mx AS (SELECT LEAST(
              (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 FROM events
               WHERE event_type = 'view'),
              (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 FROM events
               WHERE event_type = 'purchase')) AS wm_base_us),
v AS (SELECT event_id AS view_id, ts AS vts, user_id FROM events
      WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, ts AS pts, user_id FROM events
      WHERE event_type = 'purchase'),
rj AS (SELECT p.purchase_id, v.view_id, p.pts,
              epoch_us(p.pts) - epoch_us(v.vts) AS gap_us
       FROM p LEFT JOIN v
         ON v.user_id = p.user_id
        AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 12 HOUR)
SELECT purchase_id, COALESCE(view_id, -1) AS view_id,
       COALESCE(gap_us, -1) AS gap_us
FROM rj, mx
WHERE view_id IS NOT NULL
   OR epoch_us(pts) < wm_base_us - 43200000000
ORDER BY purchase_id, view_id"""

    o["streaming_stream_join_full"] = """
WITH mx AS (SELECT LEAST(
              (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 FROM events
               WHERE event_type = 'view'),
              (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 FROM events
               WHERE event_type = 'purchase')) AS wm_base_us),
v AS (SELECT event_id AS view_id, ts AS vts, user_id FROM events
      WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, ts AS pts, user_id FROM events
      WHERE event_type = 'purchase'),
m AS (SELECT v.view_id, p.purchase_id,
             epoch_us(p.pts) - epoch_us(v.vts) AS gap_us
      FROM v JOIN p
        ON v.user_id = p.user_id
       AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 12 HOUR),
ul AS (SELECT view_id, CAST(-1 AS BIGINT) AS purchase_id,
              CAST(-1 AS BIGINT) AS gap_us
       FROM v, mx
       WHERE epoch_us(vts) + 43200000000 < wm_base_us - 43200000000
         AND NOT EXISTS (SELECT 1 FROM p
                         WHERE p.user_id = v.user_id
                           AND p.pts >= v.vts
                           AND p.pts <= v.vts + INTERVAL 12 HOUR)),
ur AS (SELECT CAST(-1 AS BIGINT) AS view_id, purchase_id,
              CAST(-1 AS BIGINT) AS gap_us
       FROM p, mx
       WHERE epoch_us(pts) < wm_base_us - 43200000000
         AND NOT EXISTS (SELECT 1 FROM v
                         WHERE v.user_id = p.user_id
                           AND p.pts >= v.vts
                           AND p.pts <= v.vts + INTERVAL 12 HOUR))
SELECT view_id, purchase_id, gap_us FROM m
UNION ALL SELECT * FROM ul
UNION ALL SELECT * FROM ur
ORDER BY view_id, purchase_id"""

    # synth_commuter: the sim's RNG-free invariants, computed from
    # pure ranges (the RNG-valued trace is synth_commuter_trace,
    # rows-only — numpy's PCG64 stream is not SQL-expressible)
    o["synth_commuter"] = """
SELECT d.range AS driver_id, t.range AS trip,
       CAST(30 AS BIGINT) AS n_points,
       t.range * 43200 AS min_off,
       t.range * 43200 + 29 * 30 AS max_off,
       CAST(30 AS BIGINT) AS n_mph_ok,
       CAST(1 AS BIGINT) AS n_zip
FROM range(0, 20) d CROSS JOIN range(0, 4) t
ORDER BY driver_id, trip"""
    o["synth_commuter_digest"] = OR.commuter_digest_sql(
        n_drivers=20, trips=4, points_per_trip=30, seed=7)
    return o
