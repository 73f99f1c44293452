package graft.sources

import graft.QueryDef
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Reference-parity queries: the HNAP parse pipeline (SURVEY.md §2.B) and
  * the DOCSIS dashboard query shapes (§2.D) over fixture payloads. The
  * oracles are golden VALUES tables hand-derived from the reference's
  * parse code (FIXTURES.md §1), so the driver's DuckDB gate checks the
  * full parse → nested-array → explode pipeline against expected values.
  */
object DocsisQueries {

  private def parsed(s: org.apache.spark.sql.SparkSession) =
    HnapParse.parse(DocsisFixtures.rawFrame(s))

  /** Golden downstream rows, shared by dx01 (explode) and dx09 (inline). */
  private val downstreamGoldenSql: String = """
        SELECT * FROM (VALUES
          ('MB8600', TIMESTAMP '2024-03-01 00:00:00', 5,  CAST(CAST(483000000.0 AS DOUBLE) AS REAL), 'QAM256',   CAST(CAST(3.4 AS DOUBLE) AS REAL),  CAST(CAST(43.1 AS DOUBLE) AS REAL), CAST(12 AS BIGINT),  CAST(0 AS BIGINT)),
          ('MB8600', TIMESTAMP '2024-03-01 00:00:00', 6,  CAST(CAST(489000000.0 AS DOUBLE) AS REAL), 'QAM256',   CAST(CAST(-1.2 AS DOUBLE) AS REAL), CAST(CAST(40.0 AS DOUBLE) AS REAL), CAST(7 AS BIGINT),   CAST(-42 AS BIGINT)),
          ('MB8600', TIMESTAMP '2024-03-01 00:00:00', 33, CAST(CAST(722000000.0 AS DOUBLE) AS REAL), 'OFDM PLC', CAST(CAST(2.9 AS DOUBLE) AS REAL),  CAST(CAST(40.0 AS DOUBLE) AS REAL), CAST(524 AS BIGINT), CAST(3 AS BIGINT)),
          ('MB8600', TIMESTAMP '2024-03-01 00:00:10', 48, CAST(CAST(850000000.0 AS DOUBLE) AS REAL), 'OFDM PLC', CAST(CAST(1.0 AS DOUBLE) AS REAL),  CAST(CAST(20.0 AS DOUBLE) AS REAL), CAST(9 AS BIGINT),   CAST(1 AS BIGINT)),
          ('MB8600', TIMESTAMP '2024-03-01 00:00:10', 49, CAST(CAST(860000000.0 AS DOUBLE) AS REAL), 'OFDM PLC', CAST(CAST(1.5 AS DOUBLE) AS REAL),  CAST(CAST(36.2 AS DOUBLE) AS REAL), CAST(11 AS BIGINT),  CAST(2 AS BIGINT)),
          ('attic',  TIMESTAMP '2024-03-01 00:00:20', 5,  CAST(CAST(483000000.0 AS DOUBLE) AS REAL), 'QAM256',   CAST(CAST(3.4 AS DOUBLE) AS REAL),  CAST(CAST(43.1 AS DOUBLE) AS REAL), CAST(12 AS BIGINT),  CAST(0 AS BIGINT)),
          ('attic',  TIMESTAMP '2024-03-01 00:00:20', 6,  CAST(CAST(489000000.0 AS DOUBLE) AS REAL), 'QAM256',   CAST(CAST(-1.2 AS DOUBLE) AS REAL), CAST(CAST(40.0 AS DOUBLE) AS REAL), CAST(7 AS BIGINT),   CAST(-42 AS BIGINT)),
          ('attic',  TIMESTAMP '2024-03-01 00:00:20', 33, CAST(CAST(722000000.0 AS DOUBLE) AS REAL), 'OFDM PLC', CAST(CAST(2.9 AS DOUBLE) AS REAL),  CAST(CAST(40.0 AS DOUBLE) AS REAL), CAST(524 AS BIGINT), CAST(3 AS BIGINT)),
          ('MB8600', TIMESTAMP '2024-03-02 00:00:40', 48, CAST(CAST(850000000.0 AS DOUBLE) AS REAL), 'OFDM PLC', CAST(CAST(1.0 AS DOUBLE) AS REAL),  CAST(CAST(20.0 AS DOUBLE) AS REAL), CAST(9 AS BIGINT),   CAST(1 AS BIGINT)),
          ('MB8600', TIMESTAMP '2024-03-02 00:00:40', 49, CAST(CAST(860000000.0 AS DOUBLE) AS REAL), 'OFDM PLC', CAST(CAST(1.5 AS DOUBLE) AS REAL),  CAST(CAST(36.2 AS DOUBLE) AS REAL), CAST(11 AS BIGINT),  CAST(2 AS BIGINT))
        ) AS t(modem_name, timestamp, channel_id, frequency, modulation, power, snr, corrected_errors, uncorrected_errors)
        ORDER BY timestamp, modem_name, channel_id"""

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    QueryDef(
      "dx01_downstream_channels",
      (s, _) => {
        import s.implicits._
        parsed(s)
          .select($"modem_name", $"timestamp",
            explode_outer($"downstream_channels").as("ch"))
          .filter($"ch".isNotNull)
          .select($"modem_name", $"timestamp", $"ch.channel_id",
            $"ch.frequency", $"ch.modulation", $"ch.power", $"ch.snr",
            $"ch.corrected_errors", $"ch.uncorrected_errors")
          .orderBy($"timestamp", $"modem_name", $"channel_id")
      },
      Some(downstreamGoldenSql),
      doc = "HNAP downstream parse: splits, casts, MHz→Hz, OFDM PLC SNR fix, signed counters"),

    // ------------------------------------------------------------------
    QueryDef(
      "dx02_upstream_channels",
      (s, _) => {
        import s.implicits._
        parsed(s)
          .select($"modem_name", $"timestamp",
            explode_outer($"upstream_channels").as("ch"))
          .filter($"ch".isNotNull)
          .select($"modem_name", $"timestamp", $"ch.channel_id",
            $"ch.frequency", $"ch.modulation", $"ch.power", $"ch.width")
          .orderBy($"timestamp", $"modem_name", $"channel_id")
      },
      Some("""
        SELECT * FROM (VALUES
          ('MB8600', TIMESTAMP '2024-03-01 00:00:00', 1, CAST(CAST(35600000.0 AS DOUBLE) AS REAL), 'SC-QAM', CAST(CAST(46.5 AS DOUBLE) AS REAL), CAST(CAST(6400000.0 AS DOUBLE) AS REAL)),
          ('MB8600', TIMESTAMP '2024-03-01 00:00:00', 9, CAST(CAST(29200000.0 AS DOUBLE) AS REAL), 'OFDMA',  CAST(CAST(41.0 AS DOUBLE) AS REAL), CAST(CAST(96000000.0 AS DOUBLE) AS REAL)),
          ('MB8600', TIMESTAMP '2024-03-01 00:00:10', 2, CAST(CAST(30800000.0 AS DOUBLE) AS REAL), 'SC-QAM', CAST(CAST(45.0 AS DOUBLE) AS REAL), CAST(CAST(3200000.0 AS DOUBLE) AS REAL)),
          ('attic',  TIMESTAMP '2024-03-01 00:00:20', 2, CAST(CAST(30800000.0 AS DOUBLE) AS REAL), 'SC-QAM', CAST(CAST(45.0 AS DOUBLE) AS REAL), CAST(CAST(3200000.0 AS DOUBLE) AS REAL)),
          ('MB8600', TIMESTAMP '2024-03-02 00:00:40', 1, CAST(CAST(35600000.0 AS DOUBLE) AS REAL), 'SC-QAM', CAST(CAST(46.5 AS DOUBLE) AS REAL), CAST(CAST(6400000.0 AS DOUBLE) AS REAL)),
          ('MB8600', TIMESTAMP '2024-03-02 00:00:40', 9, CAST(CAST(29200000.0 AS DOUBLE) AS REAL), 'OFDMA',  CAST(CAST(41.0 AS DOUBLE) AS REAL), CAST(CAST(96000000.0 AS DOUBLE) AS REAL))
        ) AS t(modem_name, timestamp, channel_id, frequency, modulation, power, width)
        ORDER BY timestamp, modem_name, channel_id"""),
      doc = "HNAP upstream parse: kHz→Hz width, MHz→Hz frequency"),

    // ------------------------------------------------------------------
    QueryDef(
      "dx03_snapshots",
      (s, _) => {
        import s.implicits._
        parsed(s)
          .select($"modem_name", $"modem_config_filename", $"modem_uptime",
            $"modem_version", $"modem_model",
            size($"downstream_channels").cast("long").as("n_down"),
            size($"upstream_channels").cast("long").as("n_up"),
            $"scrape_latency", $"timestamp")
          .orderBy($"timestamp")
      },
      Some("""
        SELECT * FROM (VALUES
          ('MB8600', 'cfg-8600-gold.bin', CAST(618125 AS BIGINT), '8600-19.3.18', 'MB8600', CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(CAST(0.125 AS DOUBLE) AS REAL),  TIMESTAMP '2024-03-01 00:00:00'),
          ('MB8600', 'cfg-8600-gold.bin', CAST(13325 AS BIGINT),  '8600-19.3.18', 'MB8600', CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(CAST(0.25 AS DOUBLE) AS REAL),   TIMESTAMP '2024-03-01 00:00:10'),
          ('attic',  'cfg-attic.bin',     CAST(45 AS BIGINT),     '8600-19.3.18', 'MB8600', CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(CAST(0.5 AS DOUBLE) AS REAL),    TIMESTAMP '2024-03-01 00:00:20'),
          ('MB8600', 'cfg-8600-gold.bin', CAST(176430 AS BIGINT), '8600-19.3.18', 'MB8600', CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(CAST(0.0625 AS DOUBLE) AS REAL), TIMESTAMP '2024-03-02 00:00:40')
        ) AS t(modem_name, modem_config_filename, modem_uptime, modem_version, modem_model, n_down, n_up, scrape_latency, timestamp)
        ORDER BY timestamp"""),
      doc = "snapshot rows: uptime regex parse, config/version fields, non-OK filter"),

    // ------------------------------------------------------------------
    QueryDef(
      "dx04_uptime_parse",
      (s, _) => {
        import s.implicits._
        Seq("7 days 03h:42m:05s", "03h:42m:05s", "45s", "1 days ", "",
          "12m:00s", "400 days 00h:00m:00s")
          .toDF("uptime_str")
          .select($"uptime_str", HnapParse.uptimeSeconds($"uptime_str").as("seconds"))
          .orderBy($"uptime_str")
      },
      Some("""
        SELECT * FROM (VALUES
          ('',                     CAST(0 AS BIGINT)),
          ('03h:42m:05s',          CAST(13325 AS BIGINT)),
          ('1 days ',              CAST(86400 AS BIGINT)),
          ('12m:00s',              CAST(720 AS BIGINT)),
          ('400 days 00h:00m:00s', CAST(34560000 AS BIGINT)),
          ('45s',                  CAST(45 AS BIGINT)),
          ('7 days 03h:42m:05s',   CAST(618125 AS BIGINT))
        ) AS t(uptime_str, seconds)
        ORDER BY uptime_str"""),
      doc = "uptime regex: all segments optional, missing → 0 (reference bug not replicated)"),

    // ------------------------------------------------------------------
    // The DOCSIS counter-rate dashboard query over a deterministic
    // synthetic series with a mid-series counter wrap: negative deltas
    // are overflow (tables.sql:19) → NULL, never negative rates.
    QueryDef(
      "dx05_channel_rate",
      (s, _) => {
        import s.implicits._
        val w = Window.partitionBy($"channel").orderBy($"seq".asc)
        s.range(0, 20).toDF("id")
          .select(($"id" % 2).as("channel"), expr("id div 2").as("seq"))
          .withColumn("corrected",
            when($"seq" < 5, $"seq" * 100L * ($"channel" + 1L))
              .otherwise(($"seq" - 5L) * 50L * ($"channel" + 1L)))
          .withColumn("rate",
            when($"corrected" - lag($"corrected", 1).over(w) < 0L, lit(null))
              .otherwise($"corrected" - lag($"corrected", 1).over(w)))
          .orderBy($"channel", $"seq")
      },
      Some("""
        SELECT channel, seq, corrected,
               CASE WHEN corrected - LAG(corrected, 1) OVER
                         (PARTITION BY channel ORDER BY seq ASC) < 0
                    THEN NULL
                    ELSE corrected - LAG(corrected, 1) OVER
                         (PARTITION BY channel ORDER BY seq ASC) END AS rate
        FROM (SELECT id % 2 AS channel, id // 2 AS seq,
                     CASE WHEN id // 2 < 5 THEN (id // 2) * 100 * (id % 2 + 1)
                          ELSE (id // 2 - 5) * 50 * (id % 2 + 1) END AS corrected
              FROM range(0, 20) t(id)) s
        ORDER BY channel, seq"""),
      doc = "counter-rate with overflow guard (signed-counter semantics, tables.sql:19)"),

    // ------------------------------------------------------------------
    // The SURVEY.md §7 "minimum end-to-end slice" dashboard query: per
    // modem+channel, 10-minute buckets of SNR stats and uncorrected-error
    // RATE (guarded against counter wraps), over a generated nested
    // series. The Spark side builds the real nested Array(Struct) column
    // and explodes it — exercising the storage model; the oracle produces
    // the equivalent flat rows directly. All-integer signal math so both
    // engines agree exactly:
    //   snr_x10 = 300 + (seq*7 + ch*13) % 100        (tenths of dB)
    //   uncorrected = (seq % 100) * (ch+1)           (wraps every 100 ticks)
    dashboardSlice("dx06_dashboard_slice", nRows = 720, nModems = 2, nChannels = 4,
      doc = "SURVEY §7 end-to-end slice: nested channels → explode → 10-min buckets → SNR + guarded error rate"),

    // Scale-weight variant: 200k snapshots × 8 channels = 1.6M channel
    // rows through explode → 64-series lag windows → bucket agg. Same
    // oracle-checked semantics; this is the row that carries real data
    // volume in BENCH.
    dashboardSlice("dx07_dashboard_slice_big", nRows = 200000, nModems = 8,
      nChannels = 8,
      doc = "dashboard slice at volume (1.6M channel rows)"),

    // ------------------------------------------------------------------
    // dx08: storage round-trip — the parsed fixture rows written through
    // the transaction-logged fact table (graft.storage.FactTable: two
    // appends as buffer parts, then a compaction merge into sorted
    // day-partitioned base parts) and read back via the log snapshot.
    // The oracle checks the same aggregate over the golden parse values,
    // so the gate covers parse → log append → merge → snapshot read.
    QueryDef(
      "dx08_fact_table_roundtrip",
      (s, _) => {
        import s.implicits._
        import org.apache.spark.sql.functions.to_date
        val dir = graft.TempDirs.scratch("dx08_fact")
        val t = new graft.storage.FactTable(dir, s)
        val withDate = parsed(s).withColumn("date", to_date($"timestamp"))
        t.append(withDate.filter($"modem_name" === "MB8600"), txnId = 0)
        t.append(withDate.filter($"modem_name" =!= "MB8600"), txnId = 1)
        t.append(withDate.filter($"modem_name" === "MB8600"), txnId = 0) // retry no-op
        t.compact()
        t.read()
          .groupBy($"modem_name")
          .agg(count(lit(1)).as("n"), sum($"modem_uptime").as("sum_uptime"))
          .orderBy($"modem_name")
      },
      Some("""
        SELECT * FROM (VALUES
          ('MB8600', CAST(3 AS BIGINT), CAST(807880 AS BIGINT)),
          ('attic',  CAST(1 AS BIGINT), CAST(45 AS BIGINT))
        ) AS t(modem_name, n, sum_uptime)
        ORDER BY modem_name"""),
      doc = "transaction-logged storage round-trip: append → compact → snapshot read"),

    // ------------------------------------------------------------------
    // dx09: inline() — the generator that flattens an array-of-structs
    // straight into columns (vs dx01's explode + field projection).
    // Identical golden rows to dx01, proving the two formulations agree.
    QueryDef(
      "dx09_inline_channels",
      (s, _) => {
        import s.implicits._
        parsed(s)
          .select($"modem_name", $"timestamp",
            inline($"downstream_channels"))
          .orderBy($"timestamp", $"modem_name", $"channel_id")
      },
      Some(downstreamGoldenSql),
      doc = "inline() struct-array flattening (same golden rows as dx01)"),

    // ------------------------------------------------------------------
    // dx10: stats-pruned read — orders appended as three disjoint
    // order-date ranges (MergeTree parts arriving in time order), then a
    // filtered read through FactTable.readWhere, which must answer from
    // the log's footer stats WITHOUT touching the out-of-range parts.
    // The require() makes the correctness gate fail if skipping ever
    // stops pruning; the oracle proves the pruned read loses no rows.
    QueryDef(
      "dx10_pruned_read",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx10_fact")
        val t = new graft.storage.FactTable(dir, s)
        val orders = graft.Tables.load(s, sfDir, "orders")
        t.append(orders.filter($"o_orderdate" < "1997-01-01").repartition(1), 0)
        t.append(orders.filter($"o_orderdate" >= "1997-01-01" &&
          $"o_orderdate" < "1999-01-01").repartition(1), 1)
        t.append(orders.filter($"o_orderdate" >= "1999-01-01").repartition(1), 2)
        val cond = $"o_orderdate" >= lit("1999-07-01").cast("timestamp")
        val (kept, total) = t.pruneReport(cond)
        require(kept < total, s"stats skipping regressed: $kept/$total files kept")
        t.readWhere(cond)
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-07-01 00:00:00'
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "log-stats pruned read: file skipping with zero row loss"),

    // ------------------------------------------------------------------
    // dx11: fleet dashboard ROLLUP — per-(modem, day) channel stats with
    // subtotal and grand-total rows (the Grafana fleet-overview shape;
    // SURVEY §2.D "ROLLUP/CUBE for dashboard totals" on the DOCSIS
    // surface). grouping_id disambiguates aggregation levels; SNR
    // averaged through decimal sums; signed-counter anomaly rows
    // (tables.sql:19) counted per level.
    QueryDef(
      "dx11_fleet_rollup",
      (s, _) => {
        import s.implicits._
        parsed(s)
          .select($"modem_name", to_date($"timestamp").as("d"),
            explode_outer($"downstream_channels").as("ch"))
          .filter($"ch".isNotNull)
          .rollup($"modem_name", $"d")
          .agg(
            grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n_channels"),
            round(sum($"ch.snr".cast("double").cast("decimal(18,6)"))
              .cast("double") / count(lit(1)), 6).as("avg_snr"),
            sum(when($"ch.uncorrected_errors" < 0, 1).otherwise(0))
              .as("neg_counter_rows"))
          .select($"gid", $"modem_name", $"d", $"n_channels", $"avg_snr",
            $"neg_counter_rows")
          .orderBy($"gid", $"modem_name", $"d")
      },
      Some(s"""
        WITH g AS ($downstreamGoldenSql)
        SELECT CAST(GROUPING(modem_name, d) AS BIGINT) AS gid,
               modem_name, d, COUNT(*) AS n_channels,
               round(CAST(SUM(CAST(CAST(snr AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_snr,
               CAST(SUM(CASE WHEN uncorrected_errors < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS neg_counter_rows
        FROM (SELECT modem_name, CAST(timestamp AS DATE) AS d,
                     snr, uncorrected_errors FROM g) t
        GROUP BY ROLLUP(modem_name, d)
        ORDER BY gid, modem_name, d"""),
      doc = "fleet ROLLUP: per-modem/day subtotals + grand total with grouping_id"),

    // ------------------------------------------------------------------
    // dx12: replacing merge (ClickHouse ReplacingMergeTree analog) — a
    // base generation of orders (version 1) receives an "update" append
    // re-writing every o_orderkey % 10 == 0 row with version 2 and a
    // bumped ship priority; replacingCompact keeps the max-version row
    // per (date, o_orderkey) at merge time. The read must show exactly
    // one row per key, with the v2 values ('U' status) winning — which
    // the oracle reproduces straight from the source table, proving
    // upsert semantics end to end through the txn log.
    QueryDef(
      "dx12_replacing_merge",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx12_fact")
        val t = new graft.storage.FactTable(dir, s)
        // month partitions: o_orderdate spans ~7 years, so day granularity
        // would mean ~2400 dynamic partitions of tiny files per rewrite —
        // the partition-cardinality trap that kills small-file-bound
        // tables at any scale. ~80 month partitions keep the rewrite one
        // healthy file per partition (measured 57 s → 4 s at sf0.1).
        val orders = graft.Tables.load(s, sfDir, "orders")
          .withColumn("date", to_date(date_trunc("month", $"o_orderdate")))
        t.append(orders.withColumn("ver", lit(1L)), txnId = 0)
        t.append(orders.filter($"o_orderkey" % 10 === 0)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("ver", lit(2L)), txnId = 1)
        t.replacingCompact(keyCols = Seq("o_orderkey"), versionCol = "ver")
        t.read()
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            countDistinct($"o_orderkey").as("n_keys"),
            sum(when($"ver" === 2L, 1).otherwise(0)).as("n_updated"),
            sum(when($"o_orderstatus" === "U", 1).otherwise(0))
              .as("n_status_u"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n,
               COUNT(DISTINCT o_orderkey) AS n_keys,
               CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_updated,
               CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_status_u
        FROM orders
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "replacing merge: max-version row per key wins at compaction (upsert)"),

    // ------------------------------------------------------------------
    // dx13: TTL retention e2e — append orders into the logged table with
    // month-granularity partitions, compact (parts now align to month
    // boundaries), TTL-expire everything before 1998-01-01, read back.
    // Because parts align to months and the cutoff is a month boundary,
    // part-granular TTL equals the row predicate o_orderdate >=
    // 1998-01-01 — which is exactly what the oracle states. The expiry
    // itself is one metadata commit: no data read or rewritten.
    QueryDef(
      "dx13_ttl_expiry",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx13_fact")
        val t = new graft.storage.FactTable(dir, s)
        val orders = graft.Tables.load(s, sfDir, "orders")
          .withColumn("date", to_date(date_trunc("month", $"o_orderdate")))
        t.append(orders, txnId = 0)
        t.compact(sortCols = Seq("o_orderkey"), partitionCol = "date")
        val dropped = t.ttlExpire("1998-01-01")
        require(dropped > 0, s"TTL expired no parts at $dir")
        t.read()
          .groupBy(year($"o_orderdate").as("yr"))
          .agg(count(lit(1)).as("n_orders"),
            min($"o_orderdate").as("min_date"),
            max($"o_orderdate").as("max_date"))
          .orderBy($"yr")
      },
      Some("""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
               COUNT(*) AS n_orders,
               MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
        FROM orders WHERE o_orderdate >= DATE '1998-01-01'
        GROUP BY 1 ORDER BY yr"""),
      doc = "TTL retention: part-granular expiry as one metadata commit (MergeTree TTL DELETE)"),

    // ------------------------------------------------------------------
    // dx14: SUMMING merge e2e (SummingMergeTree / the insert-time
    // materialized-view rollup): append raw lineitem measure rows twice
    // (split by linenumber parity, so every key appears in both
    // appends), summing-merge, and read the rollup back. The merge must
    // (a) preserve the exact decimal sums — asserted by the oracle's
    // direct GROUP BY over lineitem — and (b) actually collapse:
    // post-merge the table holds exactly one row per (month, flag,
    // status), which the require() proves before returning rows.
    QueryDef(
      "dx14_summing_merge",
      (s, sfDir) => {
        import s.implicits._
        import org.apache.spark.sql.types.DecimalType
        val dir = graft.TempDirs.scratch("dx14_fact")
        val t = new graft.storage.FactTable(dir, s)
        val rows = graft.Tables.load(s, sfDir, "lineitem")
          .select(to_date(date_trunc("month", $"l_shipdate")).as("date"),
            $"l_returnflag", $"l_linestatus", $"l_linenumber",
            $"l_quantity".cast(DecimalType(18, 2)).as("qty"),
            lit(1L).as("n"))
        t.append(rows.filter($"l_linenumber" % 2 === 0).drop("l_linenumber"), 0)
        t.append(rows.filter($"l_linenumber" % 2 === 1).drop("l_linenumber"), 1)
        t.summingCompact(keyCols = Seq("l_returnflag", "l_linestatus"),
          sumCols = Seq("qty", "n"))
        val merged = t.read()
        val keys = merged.select($"date", $"l_returnflag", $"l_linestatus")
        require(keys.count() == keys.distinct().count(),
          s"summing merge left duplicate keys at $dir")
        // House convention (CoreQueries.dsum): decimal-exact internally,
        // final cast("double") at the boundary so the driver's hasher
        // sees the same physical type as the oracle. Quantities are
        // integer-valued, so double is exact here.
        merged.groupBy($"l_returnflag", $"l_linestatus")
          .agg(sum($"qty").cast(DecimalType(18, 2)).cast("double").as("sum_qty"),
            sum($"n").as("n_items"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_qty,
               COUNT(*) AS n_items
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      doc = "summing merge: rollup maintained at merge time (SummingMergeTree / MV)"),

    // ------------------------------------------------------------------
    // dx15: targeted deletion e2e (lightweight DELETE — the takedown /
    // right-to-be-forgotten path): events land range-partitioned on
    // user_id so every file's footer covers a narrow user range, then
    // ONE user is deleted. The require() proves the log stats actually
    // prune — only the files whose [min,max] straddle the key are
    // rewritten — and the oracle hash-checks the surviving rows against
    // a plain WHERE user_id <> 42 over the source. At 100 TB this is
    // the difference between rewriting a table and rewriting a handful
    // of parts.
    QueryDef(
      "dx15_targeted_delete",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx15_fact")
        val t = new graft.storage.FactTable(dir, s)
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
        (0 until 3).foreach { m =>
          t.append(ev.filter($"user_id" % 3 === m)
            .repartitionByRange(4, $"user_id")
            .sortWithinPartitions($"user_id"), m)
        }
        // takedown target = the smallest user id — exists at every SF
        // (a fixed id is absent from the small smoke corpus); one
        // driver-side scalar, same as the oracle's subquery
        val target = ev.agg(min($"user_id")).head().getLong(0)
        val (touched, total) = t.pruneReport($"user_id" === target)
        require(touched < total,
          s"stats pruned nothing: $touched/$total files touched at $dir")
        val deleted = t.deleteWhere($"user_id" === target)
        require(deleted > 0, s"nothing deleted at $dir")
        t.read()
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct($"user_id").as("n_users"),
            min($"user_id").as("min_user"), max($"user_id").as("max_user"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               MIN(user_id) AS min_user, MAX(user_id) AS max_user
        FROM events WHERE user_id <> (SELECT MIN(user_id) FROM events)
        GROUP BY event_type ORDER BY event_type"""),
      doc = "targeted delete: stats-pruned part rewrite (lightweight DELETE / GDPR)"),

    // ------------------------------------------------------------------
    // dx23: DELETION VECTORS e2e (ClickHouse lightweight DELETE's
    // `_row_exists` mask / Delta deletion vectors, key-granular): the
    // same takedown as dx15, but the delete commits ONE small tombstone
    // of key tuples scoped (via a per-tombstone victim list — the
    // deletion vector) to the stats-pruned parts that could hold them,
    // instead of rewriting those parts. Reads mask immediately through
    // a broadcast anti-join; the rewrite is deferred to
    // applyTombstones, which touches ONLY the covered parts. The
    // require()s prove each lifecycle claim: no part rewritten at
    // delete time, the mask visible at once, an insert-after-delete of
    // the same key NOT masked (new parts are outside every existing
    // deletion vector — ClickHouse mutation ordering), and the
    // reconcile leaving uncovered parts untouched. At 100 TB this is
    // the GDPR shape: the takedown writes kilobytes now and batches
    // the part rewrites for later.
    QueryDef(
      "dx23_deletion_vectors",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx23_fact")
        val t = new graft.storage.FactTable(dir, s)
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
        (0 until 3).foreach { m =>
          t.append(ev.filter($"user_id" % 3 === m)
            .repartitionByRange(4, $"user_id")
            .sortWithinPartitions($"user_id"), m)
        }
        val target = ev.agg(min($"user_id")).head().getLong(0)
        val partsBefore = t.snapshot().dataFiles.map(_.path).toSet
        val keys = t.softDelete($"user_id" === target, Seq("user_id"))
        require(keys == 1L, s"expected 1 tombstoned key, got $keys at $dir")
        require(t.snapshot().dataFiles.map(_.path).toSet == partsBefore,
          s"soft delete rewrote data parts at $dir")
        require(t.read().filter($"user_id" === target).count() == 0,
          s"mask not visible after soft delete at $dir")
        // insert-after-delete: the user's click events arrive again in a
        // later batch — new parts sit outside every deletion vector
        t.append(ev.filter($"user_id" === target &&
          $"event_type" === "click"), 7)
        val removed = t.applyTombstones()
        require(t.snapshot().tombFiles.isEmpty,
          s"tombstones not consumed by reconcile at $dir")
        require(removed > 0, s"reconcile removed no rows at $dir")
        val partsAfter = t.snapshot().dataFiles.map(_.path).toSet
        require(partsBefore.intersect(partsAfter).nonEmpty,
          s"reconcile rewrote even uncovered parts at $dir")
        t.read()
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            countDistinct($"user_id").as("n_users"),
            min($"user_id").as("min_user"), max($"user_id").as("max_user"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               MIN(user_id) AS min_user, MAX(user_id) AS max_user
        FROM events
        WHERE user_id <> (SELECT MIN(user_id) FROM events)
           OR event_type = 'click'
        GROUP BY event_type ORDER BY event_type"""),
      doc = "deletion vectors: key tombstones + victim lists, masked reads, deferred reconcile"),

    // ------------------------------------------------------------------
    // dx24: MERGEABLE QUANTILE STATE (the AggregatingMergeTree
    // quantileState→quantileMerge analog; dx17 is the same pattern for
    // HLL): per-day FIXED-BIN histograms over event value are
    // materialized into the logged table as a 32-long array column —
    // a bounded mergeable sketch — and week-level p50/p90 estimates
    // come from element-wise MERGING the stored states; raw events are
    // never re-read. Unlike dx17's engine-specific HLL (tolerance
    // oracle), a fixed-bin histogram is EXACTLY reproducible: bin
    // edges are deterministic double math DuckDB replays bit-for-bit,
    // so the whole row hash-checks. The require proves the state is
    // O(days), not O(events). Scale: daily ingestion appends one
    // 32-slot array per group; any rollup window is a state merge —
    // the incremental-percentile pattern for 100 TB latency tables
    // (and the bounded-state fallback q69's scaladoc points at).
    QueryDef(
      "dx24_quantile_state_merge",
      (s, sfDir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val dir = graft.TempDirs.scratch("dx24_fact")
        val t = new graft.storage.FactTable(dir, s)
        val nb = 32
        val ev = graft.Tables.events(s, sfDir)
          .filter($"value".isNotNull)
          .withColumn("date", to_date($"ts"))
        val (lo, hi) = ev.agg(min($"value"), max($"value"))
          .as[(Double, Double)].head()
        require(hi > lo, s"degenerate value domain [$lo,$hi]")
        val bin = least(greatest(
          floor(($"value" - lit(lo)) / lit(hi - lo) * nb), lit(0L)),
          lit(nb - 1L)).cast("int")
        val daily = ev.withColumn("bin", bin)
          .groupBy($"date", $"bin").agg(count(lit(1)).as("n"))
          .groupBy($"date")
          .agg(map_from_entries(collect_list(struct($"bin", $"n"))).as("m"))
          .select($"date", expr(
            s"transform(sequence(0, ${nb - 1}), i -> coalesce(element_at(m, i), 0L))")
            .as("hist"))
        t.append(daily, 0)
        t.compact(sortCols = Seq("date"))
        // state is bounded: one fixed-width row per day, however many events
        require(t.read().count() == ev.select($"date").distinct().count(),
          s"quantile state not O(days) at $dir")
        val merged = t.read()
          .select(to_date(date_trunc("week", $"date")).as("week"),
            posexplode($"hist").as(Seq("bin", "n")))
          .groupBy($"week", $"bin").agg(sum($"n").as("n"))
        val cumW = Window.partitionBy($"week").orderBy($"bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val totW = Window.partitionBy($"week")
        val width = (hi - lo) / nb
        def est(pct: Int) =
          (lit(lo) + (min(when($"c" * 100 >= $"t" * pct, $"bin"))
            .cast("double") + lit(0.5)) * lit(width)).as(s"p${pct}_est")
        merged
          .withColumn("c", sum($"n").over(cumW))
          .withColumn("t", sum($"n").over(totW))
          .groupBy($"week")
          .agg(sum($"n").as("n_values"), est(50), est(90))
          .orderBy($"week")
      },
      Some("""
        WITH src AS (
          SELECT CAST(date_trunc('week', ts) AS DATE) AS week, value
          FROM events WHERE value IS NOT NULL),
        b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM src),
        binned AS (
          SELECT week,
                 CAST(LEAST(GREATEST(FLOOR((value - lo) / (hi - lo) * 32), 0), 31) AS INT) AS bin
          FROM src, b),
        g AS (SELECT week, bin, COUNT(*) AS n FROM binned GROUP BY 1, 2),
        c AS (SELECT week, bin, n,
                     SUM(n) OVER (PARTITION BY week ORDER BY bin) AS c,
                     SUM(n) OVER (PARTITION BY week) AS t
              FROM g)
        SELECT week, CAST(SUM(n) AS BIGINT) AS n_values,
               (SELECT lo FROM b) + (MIN(CASE WHEN c*100 >= t*50 THEN bin END) + 0.5)
                 * (((SELECT hi FROM b) - (SELECT lo FROM b)) / 32) AS p50_est,
               (SELECT lo FROM b) + (MIN(CASE WHEN c*100 >= t*90 THEN bin END) + 0.5)
                 * (((SELECT hi FROM b) - (SELECT lo FROM b)) / 32) AS p90_est
        FROM c GROUP BY week ORDER BY week"""),
      doc = "mergeable quantile state: per-day fixed-bin histogram arrays merged at read (quantileState/quantileMerge)"),

    // ------------------------------------------------------------------
    // dx25: PARTITION BACKFILL e2e (ClickHouse REPLACE PARTITION /
    // transactional dynamic partition overwrite): a day of events was
    // ingested with a bad scale factor; the corrected day (value ×2 —
    // exact in doubles) is recomputed and swapped in with ONE atomic
    // metadata commit. The require()s prove the swap is surgical:
    // every other partition's parts are bit-identical (same paths,
    // never rewritten), the replaced day's old parts are gone, and row
    // counts match day-for-day. A checkpoint is cut afterwards and the
    // read-back must be identical through it (the Delta checkpoint
    // pattern — snapshot replay pays O(commits since checkpoint), the
    // metadata move that keeps 10⁵-commit tables flat). Oracle: events
    // with the min day's values doubled.
    QueryDef(
      "dx25_partition_backfill",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx25_fact")
        val t = new graft.storage.FactTable(dir, s)
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
        t.append(ev, 0)
        t.compact(sortCols = Seq("user_id"))
        val day0 = ev.agg(min($"date").cast("string")).head().getString(0)
        val before = t.snapshot().dataFiles.map(_.path).toSet
        val corrected = t.read()
          .filter($"date" === to_date(lit(day0)))
          .withColumn("value", $"value" * 2)
        val (oldRows, newRows) = t.replacePartition(day0, corrected)
        require(oldRows == newRows && oldRows > 0,
          s"backfill row drift at $dir: $oldRows -> $newRows")
        val after = t.snapshot().dataFiles.map(_.path).toSet
        val untouched = before.filterNot(_.contains(s"/date=$day0/"))
        require(untouched.subsetOf(after),
          s"backfill rewrote foreign partitions at $dir")
        require(before.filter(_.contains(s"/date=$day0/"))
          .forall(p => !after.contains(p)),
          s"backfill left stale parts live at $dir")
        // checkpoint the log; the read below replays through it
        require(t.checkpoint() >= 0, s"checkpoint failed at $dir")
        t.read()
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast(org.apache.spark.sql.types.DataTypes
              .createDecimalType(25, 6))).cast("double").as("sum_value"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(CASE WHEN CAST(ts AS DATE) =
                                   (SELECT MIN(CAST(ts AS DATE)) FROM events)
                             THEN value * 2 ELSE value END
                        AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type"""),
      doc = "partition backfill: REPLACE PARTITION atomic swap + log checkpoint read-through"),

    // ------------------------------------------------------------------
    // dx26: MERGE INTO e2e (the lakehouse upsert: WHEN MATCHED UPDATE
    // SET *, WHEN NOT MATCHED INSERT *): a corrections batch carries
    // re-scaled values for every 13th event (updates, keyed on
    // event_id) plus late 'backfill' events under fresh ids (inserts).
    // One mergeInto call lands both: matched rows are replaced, the
    // rest inserted, in one atomic commit over only the stats-scoped
    // victim parts. The require() pins the matched/inserted split to
    // the independently-computed expectation — a mis-keyed merge
    // (double-applied update, dropped insert) cannot pass it, and the
    // oracle then hash-checks the post-merge table content. Scale: the
    // source is broadcast for the anti-join, victims are chosen by the
    // source's key range against log stats, and untouched parts are
    // never read.
    QueryDef(
      "dx26_merge_upsert",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx26_fact")
        val t = new graft.storage.FactTable(dir, s)
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
        t.append(ev, 0)
        t.compact(sortCols = Seq("event_id"))
        val tbl = t.read()
        val updates = tbl.filter($"event_id" % 13 === 0)
          .withColumn("value", $"value" * 3)
        val inserts = tbl.filter($"event_id" % 97 === 0)
          .withColumn("event_id", $"event_id" + 10000000L)
          .withColumn("event_type", lit("backfill"))
        val nUpd = updates.count()
        val nIns = inserts.count()
        val (matched, inserted) =
          t.mergeInto(updates.unionByName(inserts), Seq("event_id"))
        require(matched == nUpd && inserted == nIns,
          s"merge split drifted at $dir: got ($matched,$inserted), want ($nUpd,$nIns)")
        t.read()
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast(org.apache.spark.sql.types.DataTypes
              .createDecimalType(25, 6))).cast("double").as("sum_value"))
          .orderBy($"event_type")
      },
      Some("""
        WITH upd AS (
          SELECT event_type,
                 CASE WHEN event_id % 13 = 0 THEN value * 3 ELSE value END AS value
          FROM events),
        ins AS (
          SELECT 'backfill' AS event_type, value
          FROM events WHERE event_id % 97 = 0),
        allr AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        FROM allr GROUP BY event_type ORDER BY event_type"""),
      doc = "MERGE INTO upsert: broadcast-keyed update+insert over stats-scoped victim parts"),

    // ------------------------------------------------------------------
    // dx27: SHALLOW CLONE + independent evolution (Delta CLONE TABLE):
    // a dev/staging fork of a production table for one metadata write —
    // the clone's v0 lists the source's live parts BY REFERENCE (the
    // require proves every v0 path lives under the source root, i.e.
    // zero bytes copied), then the clone takes a backfill append and a
    // takedown softDelete while the source's row count is proven
    // untouched. The clone read must mask error rows through tombstones
    // whose victim lists point at SOURCE part paths — the path-keyed
    // deletion-vector design working unchanged across the table
    // boundary. At 100 TB this is how experiment tables, migration
    // rehearsals, and GDPR what-if audits get source-scale data for the
    // cost of a log entry.
    QueryDef(
      "dx27_shallow_clone",
      (s, sfDir) => {
        import s.implicits._
        val srcDir = graft.TempDirs.scratch("dx27_src")
        val cloneDir = graft.TempDirs.scratch("dx27_clone")
        val src = new graft.storage.FactTable(srcDir, s)
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
        src.append(ev, 0)
        src.compact(sortCols = Seq("event_id"))
        val srcRows = src.read().count()
        val clone = src.cloneShallowTo(cloneDir)
        val v0 = clone.snapshot().files
        require(v0.nonEmpty && v0.forall(_.path.contains("dx27_src")),
          s"clone v0 must reference source parts only at $cloneDir")
        val backfill = ev.filter($"event_id" % 97 === 0)
          .withColumn("event_id", $"event_id" + 10000000L)
          .withColumn("event_type", lit("backfill"))
        clone.append(backfill, 1)
        clone.softDelete($"event_type" === "error", Seq("event_id"))
        require(src.read().count() == srcRows,
          s"source table mutated by clone activity at $srcDir")
        clone.read()
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast(org.apache.spark.sql.types.DataTypes
              .createDecimalType(25, 6))).cast("double").as("sum_value"))
          .orderBy($"event_type")
      },
      Some("""
        WITH backfill AS (
          SELECT 'backfill' AS event_type, value
          FROM events WHERE event_id % 97 = 0),
        allr AS (
          SELECT event_type, value FROM events WHERE event_type <> 'error'
          UNION ALL SELECT * FROM backfill)
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        FROM allr GROUP BY event_type ORDER BY event_type"""),
      doc = "shallow clone: zero-copy metadata fork + independent append/delete evolution, source proven untouched, tombstone masks across the table boundary"),

    // ------------------------------------------------------------------
    // dx28: CHANGE DATA FEED (Delta CDF / table_changes()) — the
    // producer side of the repo's incremental-everything story: the
    // table's history REPLAYED as row-level (insert | delete) changes,
    // which is what d20/d30/c18-style incremental consumers subscribe
    // to instead of diffing table states. The lifecycle exercises all
    // three commit classes: two appends (insert feeds, read straight
    // from the committed files), a compaction (a reorganization — must
    // emit NOTHING though it rewrites every byte), and a soft delete
    // (delete feed reconstructed from the tombstone's victim parts +
    // key tuples at the pre-commit snapshot). The oracle is the
    // closed-form change log of that history over the events table.
    QueryDef(
      "dx28_change_data_feed",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx28_fact")
        val t = new graft.storage.FactTable(dir, s)
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
        t.append(ev.filter($"event_id" % 2 === 0), 0) // v1: insert feed
        t.append(ev.filter($"event_id" % 2 === 1), 1) // v2: insert feed
        t.compact(sortCols = Seq("event_id"))         // v3: reorg, silent
        t.softDelete($"event_type" === "error", Seq("event_id")) // v4: delete feed
        val head = t.snapshot().nextVersion - 1
        t.changesBetween(0, head)
          .groupBy($"_change_type", $"event_type")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct($"_commit_version").as("n_commits"))
          .orderBy($"_change_type", $"event_type")
      },
      Some("""
        WITH feed AS (
          SELECT 'insert' AS _change_type, event_type,
                 CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS v
          FROM events
          UNION ALL
          SELECT 'delete', event_type, 4 FROM events
          WHERE event_type = 'error')
        SELECT _change_type, event_type, COUNT(*) AS n_rows,
               COUNT(DISTINCT v) AS n_commits
        FROM feed GROUP BY _change_type, event_type
        ORDER BY _change_type, event_type"""),
      doc = "change data feed: table history replayed as row-level insert/delete changes; appends feed from committed files, deletes reconstruct from tombstone victims, reorganizations provably silent",
    ),

    // ------------------------------------------------------------------
    // dx29: PARTS INTROSPECTION (ClickHouse system.parts / Delta
    // DESCRIBE DETAIL): the operational report every table owner
    // queries — per-partition row mass and key ranges — answered FROM
    // THE LOG ALONE: after the lifecycle below, not one data file is
    // opened; row counts come from the commit entries and the key
    // ranges from the footer stats the log already carries. That is
    // the 100 TB point: fleet-wide storage dashboards poll tables
    // constantly, and a metadata-only answer costs O(parts) driver
    // work instead of a cluster scan. The oracle recomputes the same
    // report from the raw events — so the log's bookkeeping (rows,
    // stats, partition values, compaction swaps) is what is actually
    // being verified, end to end.
    QueryDef(
      "dx29_parts_introspection",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx29_fact")
        val t = new graft.storage.FactTable(dir, s)
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
        t.append(ev.filter($"event_id" % 2 === 0), 0)
        t.append(ev.filter($"event_id" % 2 === 1), 1)
        t.compact(sortCols = Seq("event_id")) // day-partitioned generation
        // ---- log-only from here: no parquet footer or page is read ----
        val files = t.snapshot().dataFiles
        require(files.nonEmpty && files.forall(f =>
          f.stats.get("date").exists(cs => cs.min == cs.max)),
          s"post-compact parts must be single-day at $dir")
        files.map(f => (f.stats("date").min.toLong, f.rows,
            f.stats("event_id").min.toLong, f.stats("event_id").max.toLong))
          .toDF("epoch_day", "rows", "id_min", "id_max")
          .groupBy(date_add(lit("1970-01-01").cast("date"),
            $"epoch_day".cast("int")).as("date"))
          .agg(sum($"rows").as("n_rows"),
            min($"id_min").as("min_event"), max($"id_max").as("max_event"))
          .orderBy($"date")
      },
      Some("""
        SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n_rows,
               MIN(event_id) AS min_event, MAX(event_id) AS max_event
        FROM events GROUP BY 1 ORDER BY date"""),
      doc = "parts introspection (system.parts / DESCRIBE DETAIL): per-partition row mass and key ranges answered from the transaction log alone — zero data files opened"),

    // ------------------------------------------------------------------
    // dx16: BLOOM skip-index point lookup (ClickHouse bloom_filter
    // secondary index): events are HASH-clustered on user_id, so parts
    // hold interleaved key subsets whose [min,max] mostly straddle any
    // interior probe — min/max stats keep those parts, while each
    // part's Bloom sidecar proves which ones cannot hold the probed
    // user, collapsing the point lookup to (almost always) one part of
    // eight. The require asserts blooms prune STRICTLY beyond stats. The oracle
    // hash-checks the read-back rows, so the pruned path must also be
    // exactly correct, Bloom false positives included (they cost a
    // read, never a row — readWhere re-applies the predicate in full).
    QueryDef(
      "dx16_bloom_point_lookup",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx16_fact")
        val t = new graft.storage.FactTable(dir, s,
          bloomCols = Seq("user_id"))
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
        t.append(ev.repartition(8, $"user_id"), 0)
        // probe the MEDIAN distinct user: exists at every SF and lies
        // inside most parts' hash-interleaved [min,max] — unlike a fixed
        // id (absent from the smoke corpus) or the extreme ids (which
        // min/max stats would prune on their own)
        val w = Window.orderBy($"user_id")
        val users = ev.select($"user_id").distinct()
        val half = (users.count() / 2 + 1).toInt
        val probeUser = users.withColumn("rn", row_number().over(w))
          .filter($"rn" === half).head().getLong(0)
        val probe = $"user_id" === probeUser
        val files = t.snapshot().files
        val (statTouched, total) =
          (files.count(f =>
            !graft.storage.StatsPruning.canPrune(probe, f.stats)), files.size)
        val (touched, _) = t.pruneReport(probe)
        require(touched < statTouched,
          s"bloom must prune strictly beyond min/max stats " +
            s"(bloom $touched vs stats $statTouched of $total) at $dir")
        t.readWhere(probe)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), min($"event_id").as("min_event"),
            max($"event_id").as("max_event"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n,
               MIN(event_id) AS min_event, MAX(event_id) AS max_event
        FROM events WHERE user_id = (
          SELECT user_id FROM (
            SELECT user_id, ROW_NUMBER() OVER (ORDER BY user_id) AS rn
            FROM (SELECT DISTINCT user_id FROM events) u) t
          WHERE rn = (SELECT COUNT(DISTINCT user_id) FROM events) // 2 + 1)
        GROUP BY event_type ORDER BY event_type"""),
      doc = "bloom skip-index point lookup: hash-clustered key, sidecar-pruned read"),

    // ------------------------------------------------------------------
    // dx17: AGGREGATE-STATE storage (ClickHouse AggregatingMergeTree /
    // uniqState→uniqMerge): per-day HLL sketch STATES are materialized
    // into the logged table as binary columns; month-level distinct
    // users come from MERGING the stored states (week-level here; any
    // window works the same) — the raw events are
    // never re-read. This is the 100 TB pattern for incremental distinct
    // counts: daily ingestion appends a fixed-size state per group, and
    // any rollup window is a cheap state merge instead of a full-table
    // COUNT(DISTINCT). The sketch estimate is engine-specific, so the
    // CHECKED output is the exact NDV plus a within-5% verdict on the
    // merged estimate (q27's tolerance-oracle recipe) — the row only
    // hashes green if the merged sketches really are that accurate.
    QueryDef(
      "dx17_sketch_state_merge",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx17_fact")
        val t = new graft.storage.FactTable(dir, s)
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
        val daily = ev.groupBy($"date")
          .agg(expr("hll_sketch_agg(user_id, 12)").as("users_hll"),
            count(lit(1)).as("n_events"))
        t.append(daily, 0)
        t.compact(sortCols = Seq("date"))
        val weekly = t.read()
          .groupBy(to_date(date_trunc("week", $"date")).as("week"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(users_hll))")
            .as("est_users"), sum($"n_events").as("n_events"))
        val exact = ev
          .groupBy(to_date(date_trunc("week", $"ts")).as("week"))
          .agg(countDistinct($"user_id").as("exact_users"))
        weekly.join(exact, "week")
          .select($"week", $"n_events", $"exact_users",
            (abs($"est_users" - $"exact_users").cast("double")
              <= greatest(lit(1.0), $"exact_users" * 0.05))
              .as("est_within_5pct"))
          .orderBy($"week")
      },
      Some("""
        SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS est_within_5pct
        FROM events GROUP BY 1 ORDER BY week"""),
      doc = "aggregate-state storage: stored HLL states merged at read (uniqState/uniqMerge)"),

    // ------------------------------------------------------------------
    // dx18: SPEC-COMPLIANCE report — the alerting query a DOCSIS
    // dashboard actually runs against this schema: per snapshot, count
    // downstream channels outside the public DOCSIS 3.1 operating
    // envelope (receive power within ±15 dBmV; MER/SNR ≥ 30 dB for
    // QAM256, ≥ 24 dB for OFDM PLC) and channels showing the signed
    // counter-overflow artifact the reference stores counters signed
    // FOR (tables.sql:19 — negative uncorrected counts). All checks
    // run as in-row higher-order filters over the nested channel
    // array — no explode, no shuffle before the final sort.
    QueryDef(
      "dx18_spec_compliance",
      (s, _) => {
        import s.implicits._
        parsed(s)
          .select($"modem_name", $"timestamp",
            size($"downstream_channels").cast("long").as("n_channels"),
            expr("""size(filter(downstream_channels,
                      c -> c.power < -15.0 OR c.power > 15.0))""")
              .cast("long").as("n_power_viol"),
            expr("""size(filter(downstream_channels,
                      c -> (c.modulation = 'QAM256' AND c.snr < 30.0) OR
                           (c.modulation = 'OFDM PLC' AND c.snr < 24.0)))""")
              .cast("long").as("n_snr_viol"),
            expr("""size(filter(downstream_channels,
                      c -> c.uncorrected_errors < 0))""")
              .cast("long").as("n_counter_overflow"),
            expr("""array_min(transform(downstream_channels, c -> c.snr))""")
              .as("worst_snr"))
          .orderBy($"timestamp", $"modem_name")
      },
      Some("""
        SELECT * FROM (VALUES
          ('MB8600', TIMESTAMP '2024-03-01 00:00:00', CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(CAST(40.0 AS DOUBLE) AS REAL)),
          ('MB8600', TIMESTAMP '2024-03-01 00:00:10', CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(CAST(20.0 AS DOUBLE) AS REAL)),
          ('attic',  TIMESTAMP '2024-03-01 00:00:20', CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(CAST(40.0 AS DOUBLE) AS REAL)),
          ('MB8600', TIMESTAMP '2024-03-02 00:00:40', CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(CAST(20.0 AS DOUBLE) AS REAL))
        ) AS t(modem_name, timestamp, n_channels, n_power_viol, n_snr_viol, n_counter_overflow, worst_snr)
        ORDER BY timestamp, modem_name"""),
      doc = "DOCSIS spec-compliance report: out-of-envelope channels + counter overflow, in-row"),

    // ------------------------------------------------------------------
    // dx19: TIME-TRAVEL reads e2e — the Delta/Iceberg `VERSION AS OF`
    // surface the transaction log already provides (FactTableSpec covers
    // it unit-level; this row puts a DuckDB oracle behind it). Three
    // committed versions — append evens (v0), append odds (v1), DELETE
    // the 'R' returnflag rows (v2) — then ONE result reads all three
    // states: `read(0)` and `read(1)` replay the log prefix, `read()`
    // the full log. The oracle reconstructs each state from lineitem
    // directly, so a time-travel read that leaked post-version rows (or
    // a delete that rewrote history) hash-fails. Scale: time travel is
    // log REPLAY, not data copy — old parts stay on disk until vacuum;
    // reading version k costs the same scan it cost at version k.
    QueryDef(
      "dx19_time_travel",
      (s, sfDir) => {
        import s.implicits._
        import org.apache.spark.sql.types.DecimalType
        val dir = graft.TempDirs.scratch("dx19_fact")
        val t = new graft.storage.FactTable(dir, s)
        // Month-granularity partitions: partition cardinality must track
        // data volume — ~84 months of lineitem at any SF keeps the
        // delete-rewrite to O(months) parts, where day-granularity at
        // sf0.01 would write ~2,500 near-empty parts and spend minutes
        // on footer stats for a 60k-row fixture. (A 100 TB table earns
        // day partitions by having GBs per day; a fixture does not.)
        val li = graft.Tables.load(s, sfDir, "lineitem")
          .select(trunc(to_date($"l_shipdate"), "month").as("date"),
            $"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
        t.append(li.filter($"l_linenumber" % 2 === 0), 0) // commits v0
        t.append(li.filter($"l_linenumber" % 2 === 1), 1) // commits v1
        val deleted = t.deleteWhere($"l_returnflag" === "R") // commits v2
        require(deleted > 0, s"time-travel fixture deleted nothing at $dir")
        def summ(df: org.apache.spark.sql.DataFrame, v: String) =
          df.agg(count(lit(1)).as("n_rows"),
              sum($"l_quantity".cast(DecimalType(18, 2)))
                .cast(DecimalType(18, 2)).cast("double").as("sum_qty"))
            .select(lit(v).as("version"), $"n_rows", $"sum_qty")
        summ(t.read(0), "v0_first_append")
          .unionByName(summ(t.read(1), "v1_second_append"))
          .unionByName(summ(t.read(), "v2_after_delete"))
          .orderBy($"version")
      },
      Some("""
        SELECT 'v0_first_append' AS version, COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem WHERE l_linenumber % 2 = 0
        UNION ALL
        SELECT 'v1_second_append', COUNT(*),
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        FROM lineitem
        UNION ALL
        SELECT 'v2_after_delete', COUNT(*),
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        FROM lineitem WHERE l_returnflag <> 'R'
        ORDER BY version"""),
      doc = "time-travel reads: log-prefix replay of three committed versions, one oracle-checked result"),

    // ------------------------------------------------------------------
    // dx20: STORED PROJECTION rollup e2e — the ClickHouse ADD PROJECTION
    // / AggregatingMergeTree surface, at ClickHouse's own granularity:
    // every part carries a mini-rollup sidecar written when the part is
    // staged, and the rollup query unions sidecars and re-aggregates the
    // partial sums (sum-of-sums / sum-of-counts — Spark's partial-agg
    // merge contract, lossless for exact types). The fixture appends two
    // part sets, DELETES a slice (forcing a rewrite whose fresh parts
    // carry fresh sidecars while the victims' sidecars die with them),
    // then answers the rollup WITHOUT touching base data — the
    // projectionCoverage require() gates that the cheap path actually
    // served, so the bench cannot silently degrade to a base scan. The
    // oracle reconstructs the same rollup from lineitem directly: a
    // sidecar that double-counted a rewrite or kept a deleted row
    // hash-fails. Scale: appends pay only their own part's rollup
    // (incremental maintenance); the query reads O(parts × groups), not
    // O(rows) — the materialized-view economics that make 100 TB
    // dashboards interactive.
    QueryDef(
      "dx20_projection_rollup",
      (s, sfDir) => {
        import s.implicits._
        import org.apache.spark.sql.types.DecimalType
        val dir = graft.TempDirs.scratch("dx20_fact")
        val spec = graft.storage.FactTable.ProjectionSpec(
          "by_month_flag", Seq("date", "l_returnflag"), Seq("qty"))
        val t = new graft.storage.FactTable(dir, s,
          projections = Seq(spec))
        // Year granularity: each rewrite stages O(years) parts, and each
        // staged part costs one footer read + one sidecar rollup job —
        // partition cardinality tracks fixture volume (see dx19).
        val li = graft.Tables.load(s, sfDir, "lineitem")
          .select(trunc(to_date($"l_shipdate"), "year").as("date"),
            $"l_orderkey", $"l_linenumber", $"l_returnflag",
            $"l_quantity".cast(DecimalType(18, 2)).as("qty"))
        t.append(li.filter($"l_orderkey" % 2 === 0), 0)
        t.append(li.filter($"l_orderkey" % 2 === 1), 1)
        val deleted = t.deleteWhere($"l_returnflag" === "R")
        require(deleted > 0, s"projection fixture deleted nothing at $dir")
        val (covered, total) = t.projectionCoverage("by_month_flag")
        require(covered == total && total > 0,
          s"projection must serve every live part ($covered/$total) at $dir")
        t.readProjection("by_month_flag")
          .select($"date", $"l_returnflag",
            $"qty".cast(DecimalType(18, 2)).cast("double").as("sum_qty"),
            $"n_rows")
          .orderBy($"date", $"l_returnflag")
      },
      Some("""
        SELECT date_trunc('year', CAST(l_shipdate AS DATE)) AS date,
               l_returnflag,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
                    AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem WHERE l_returnflag <> 'R'
        GROUP BY 1, 2 ORDER BY date, l_returnflag"""),
      doc = "stored projection rollup: per-part rollup sidecars, partial-agg merge read, delete-consistent"),

    // ------------------------------------------------------------------
    // dx21: SCHEMA EVOLUTION e2e — the ClickHouse ADD COLUMN / Delta
    // mergeSchema surface FactTableSpec covers unit-level, with a DuckDB
    // oracle behind it: v0 appends rows WITHOUT l_returnflag, v1 appends
    // rows WITH it, compact() merges both footer schemas by the
    // mergeSchema rule (a single-footer schema pick would silently drop the new column —
    // the exact bug the FactTable read path guards), and the final
    // grouped read sees NULL for every pre-evolution row. The oracle
    // reconstructs the same rollup with a CASE, so a merge that dropped
    // the column, defaulted it, or misattributed rows hash-fails.
    // Scale: evolution is metadata-only per part (no rewrite of old
    // parts — they stay columnless until some merge rewrites them), the
    // Delta/Iceberg contract.
    QueryDef(
      "dx21_schema_evolution",
      (s, sfDir) => {
        import s.implicits._
        import org.apache.spark.sql.types.DecimalType
        val dir = graft.TempDirs.scratch("dx21_fact")
        val t = new graft.storage.FactTable(dir, s)
        val li = graft.Tables.load(s, sfDir, "lineitem")
          .select(trunc(to_date($"l_shipdate"), "year").as("date"),
            $"l_orderkey", $"l_linenumber",
            $"l_quantity".cast(DecimalType(18, 2)).as("qty"),
            $"l_returnflag")
        t.append(li.filter($"l_linenumber" % 2 === 0).drop("l_returnflag"), 0)
        t.append(li.filter($"l_linenumber" % 2 === 1), 1) // schema + 1 col
        t.compact(sortCols = Seq("l_orderkey", "l_linenumber")) // merge across the schema change
        t.read()
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum($"qty").cast(DecimalType(18, 2)).cast("double").as("sum_qty"))
          .orderBy($"l_returnflag".asc_nulls_first)
      },
      Some("""
        SELECT CASE WHEN l_linenumber % 2 = 1 THEN l_returnflag END
                 AS l_returnflag,
               COUNT(*) AS n_rows,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY 1 ORDER BY l_returnflag NULLS FIRST"""),
      doc = "schema evolution e2e: add-column append, mergeSchema compaction, NULL backfill on read"),

    // ------------------------------------------------------------------
    // dx22: collapsing merge e2e (VersionedCollapsingMergeTree — the CDC
    // write pattern: updates and deletes arrive as append-only cancel
    // rows, never in-place mutation). Three appended batches simulate a
    // changelog against orders:
    //   txn 0: every order as a +1 state row (ver 1)
    //   txn 1: updates — keys %7==0 get a -1 cancel of ver 1 plus a +1
    //          state at ver 2 with price bumped by 100
    //   txn 2: deletes — keys %7!=0 && %13==0 get a -1 cancel of ver 1
    // collapsingCompact nets matched (key, ver) pairs to zero; the two
    // require()s prove the collapse physically happened (one row per
    // surviving key, all signs +1) BEFORE the aggregate runs, so the
    // green row certifies merge semantics, not just arithmetic. The
    // final aggregate uses the CH reader idiom sum(sign * x): correct
    // before AND after merges — collapse only makes it cheap.
    QueryDef(
      "dx22_collapsing_merge",
      (s, sfDir) => {
        import s.implicits._
        import org.apache.spark.sql.types.DecimalType
        val dir = graft.TempDirs.scratch("dx22_fact")
        val t = new graft.storage.FactTable(dir, s)
        val state = graft.Tables.load(s, sfDir, "orders")
          .select(to_date(date_trunc("month", $"o_orderdate")).as("date"),
            $"o_orderkey", $"o_orderpriority",
            $"o_totalprice".cast(DecimalType(18, 2)).as("price"))
        val base = state.withColumn("sign", lit(1))
          .withColumn("ver", lit(1L))
        t.append(base, txnId = 0)
        val updated = state.filter($"o_orderkey" % 7 === 0)
        t.append(
          updated.withColumn("sign", lit(-1)).withColumn("ver", lit(1L))
            .unionByName(updated
              .withColumn("price",
                ($"price" + lit(100)).cast(DecimalType(18, 2)))
              .withColumn("sign", lit(1)).withColumn("ver", lit(2L))),
          txnId = 1)
        t.append(
          state.filter($"o_orderkey" % 7 =!= 0 && $"o_orderkey" % 13 === 0)
            .withColumn("sign", lit(-1)).withColumn("ver", lit(1L)),
          txnId = 2)
        t.collapsingCompact(keyCols = Seq("o_orderkey"), signCol = "sign",
          versionCol = "ver")
        val merged = t.read()
        require(merged.groupBy($"o_orderkey").count()
          .filter($"count" > 1).isEmpty,
          s"collapsing merge left a multi-row key at $dir")
        require(merged.filter($"sign" =!= 1).isEmpty,
          s"collapsing merge left a non-+1 net sign at $dir")
        merged.groupBy($"o_orderpriority")
          .agg(sum($"sign").cast("long").as("n_live"),
            sum(when($"ver" === 2L, 1L).otherwise(0L)).as("n_updated"),
            sum($"sign" * $"price").cast(DecimalType(18, 2)).cast("double")
              .as("price_sum"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority,
               COUNT(*) AS n_live,
               CAST(SUM(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_updated,
               CAST(CAST(SUM(CASE WHEN o_orderkey % 7 = 0
                        THEN CAST(o_totalprice AS DECIMAL(18,2)) + 100
                        ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
                    AS DECIMAL(18,2)) AS DOUBLE) AS price_sum
        FROM orders
        WHERE NOT (o_orderkey % 7 <> 0 AND o_orderkey % 13 = 0)
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      doc = "collapsing merge: CDC cancel-row updates/deletes netted out at compaction (VersionedCollapsingMergeTree)"),

    // ------------------------------------------------------------------
    // dx30: SET skip-index point lookup (ClickHouse `set(N)` secondary
    // index): per-part sidecars list an indexed low-cardinality column's
    // EXACT distinct values (≤ 64, else no sidecar), so an equality
    // probe skips a part iff its value is provably absent — no
    // false-positive rate, and real skipping power precisely where
    // min/max stats have none: values that INTERLEAVE across parts. The
    // fixture engineers that regime: tag = 'tag%02d' of event_id % 16,
    // parts routed on (tag-index % 8), so each part holds a ~2-value set
    // whose [min,max] STRING RANGE spans half the domain (e.g.
    // {tag04, tag12} brackets tag05..tag11) — stats keep most parts, the
    // set sidecar keeps only the parts that truly contain the probe, and
    // the in-body require() proves the strict improvement. At 100 TB
    // this is the enum/status/country-code index: the bloom (dx16)
    // answers high-cardinality point probes, the set index answers
    // low-cardinality ones exactly.
    QueryDef(
      "dx30_set_skip_index",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx30_fact")
        val t = new graft.storage.FactTable(dir, s,
          setIndexCols = Seq("tag"))
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
          .withColumn("tag", format_string("tag%02d", $"event_id" % 16))
        t.append(ev.repartition(8, $"event_id" % 16 % 8), 0)
        val probe = $"tag" === "tag05"
        val files = t.snapshot().files
        val statTouched = files.count(f =>
          !graft.storage.StatsPruning.canPrune(probe, f.stats))
        val (touched, total) = t.pruneReport(probe)
        require(touched < statTouched,
          s"set index must prune strictly beyond min/max stats " +
            s"(set $touched vs stats $statTouched of $total) at $dir")
        t.readWhere(probe)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("cents"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events WHERE printf('tag%02d', event_id % 16) = 'tag05'
        GROUP BY event_type ORDER BY event_type"""),
      doc = "set(N) skip-index point lookup: per-part exact distinct-value sidecars skip interleaved low-cardinality values that min/max stats provably cannot"),

    // ------------------------------------------------------------------
    // dx31: INSERT-MAINTAINED MATERIALIZED VIEW (ClickHouse
    // `CREATE MATERIALIZED VIEW ... ENGINE = SummingMergeTree AS SELECT
    // ... GROUP BY`): every insert lands the raw batch in the base table
    // AND the batch's pre-aggregated delta in a separate view table,
    // under ONE txn id — the dashboard aggregate is then served from the
    // view alone, never rescanning the fact table. Completes the rollup
    // family: dx14 maintains the aggregate BY MERGES (same table), dx20
    // stores it as part-local projections (same table's parts); the MV
    // is the INSERT-time trigger feeding an independent table — the
    // shape ClickHouse deployments actually use for serving tiers.
    //
    // The lifecycle exercises the contract's three load-bearing claims:
    // a REPLAYED insert (same batch, same txn) no-ops on BOTH tables
    // (per-table txn markers make the pair self-healing — a writer
    // dying between the two commits is healed by the standard un-acked
    // replay); the aggregate is identical before and after the view's
    // physical summingCompact convergence (the SummingMergeTree read
    // rule: re-sum partials at query time, merges only make it cheap);
    // and the served result never reads the base (asserted structurally:
    // the plan scans the view's generation directories only). Oracle =
    // the same aggregate recomputed from raw events, so incremental
    // maintenance ≡ rebuild is the row-hash gate itself.
    QueryDef(
      "dx31_materialized_view",
      (s, sfDir) => {
        import s.implicits._
        val bdir = graft.TempDirs.scratch("dx31_base")
        val vdir = graft.TempDirs.scratch("dx31_view")
        val mv = new graft.storage.AggView(bdir, vdir, s,
          keyCols = Seq("event_type"), sumCols = Seq("cents"))
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
          .withColumn("cents",
            expr("CAST(floor(value * 100) AS BIGINT)"))
          .select($"date", $"event_type", $"event_id", $"cents")
        mv.insert(ev.filter($"event_id" % 3 === 0), 0)
        mv.insert(ev.filter($"event_id" % 3 === 1), 1)
        val pre = mv.readAggregate().orderBy($"date", $"event_type")
          .collect().toSeq
        mv.insert(ev.filter($"event_id" % 3 === 2), 2)
        // replay of an already-committed batch: BOTH sides must no-op
        val replay = mv.insert(ev.filter($"event_id" % 3 === 1), 1)
        require(replay == ((false, false)),
          s"replayed txn was not idempotent on both tables: $replay")
        // partial rows before convergence: bounded by keys × batches,
        // not base rows — the maintenance-cost contract, asserted at its
        // exact bound (each insert adds at most one row per present key)
        // so the served-read cost provably stays O(keys × un-merged
        // batches) however large the base grows
        val partials = mv.view.read().count()
        val keys = ev.select($"date", $"event_type").distinct().count()
        require(partials <= 3 * keys,
          s"view carries $partials rows > 3 batches x $keys keys")
        // physical convergence must not change any answer
        val preConverge = mv.readAggregate()
          .orderBy($"date", $"event_type").collect().toSeq
        mv.converge()
        val post = mv.readAggregate()
          .orderBy($"date", $"event_type").collect().toSeq
        require(preConverge == post,
          "summingCompact changed the served aggregate")
        require(pre != post, "third batch never reached the view")
        val served = mv.readAggregate().orderBy($"date", $"event_type")
        // the serving guarantee, structurally: no scan of the base table
        val plan = served.queryExecution.executedPlan.toString
        require(!plan.contains(bdir), "served aggregate reads the base table")
        served
      },
      Some("""
        SELECT CAST(ts AS DATE) AS date, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events GROUP BY 1, 2 ORDER BY date, event_type"""),
      doc = "insert-maintained materialized view: per-batch pre-aggregated deltas feed a separate SummingMergeTree-style view table under the base append's txn id (replay-idempotent pair, self-healing), served aggregate re-sums view partials only — never rescans the fact table; physical convergence proven answer-neutral"),

    // ------------------------------------------------------------------
    // dx32: TOKEN-BLOOM text skip index (ClickHouse `tokenbf_v1`,
    // tables.sql's engine family) — the keyword-search member that
    // completes the skip-index family after minmax (dx10), bloom (dx16)
    // and set (dx30). Free text has no exploitable order, so min/max
    // stats are PROVABLY powerless on a token-membership predicate (the
    // in-body require asserts statTouched == total); each part's fixed
    // 8 KiB token bloom, built in ONE distributed pass at commit time,
    // proves which parts cannot contain the probed token. At 100 TB this
    // is the difference between a full corpus scan and a pruned one for
    // every `hasToken` keyword filter. The probe is the corpus's RAREST
    // token (data-derived, like dx16's median user — exists at every SF
    // and prunes meaningfully because rarity × 16-doc parts keeps many
    // parts token-free); the oracle hash-checks the read-back rows, so
    // the pruned path must also be exactly correct, bloom false
    // positives included (readWhere re-applies the predicate in full).
    // The surfaced per-part false-positive rate must stay under 1% —
    // the saturation observability contract.
    QueryDef(
      "dx32_token_bloom_skip_index",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx32_fact")
        val t = new graft.storage.FactTable(dir, s,
          tokenBloomCols = Seq("text"))
        val docs = s.read.parquet(s"$sfDir/documents.parquet")
        // fixed ~16-doc parts: prune power depends on token-frequency ×
        // docs-per-part, so part SIZE (not count) is the held constant —
        // the MergeTree part-granularity analog
        val nParts = math.max(1, math.ceil(docs.count() / 16.0).toInt)
        t.append(docs.repartition(nParts, $"doc_id"), 0)
        // the rarest-token pass explodes every doc's tokens: spread it —
        // documents is a sub-split-size scan (ONE task, guide §2.5)
        val tok = graft.Tables.spread(docs)
          .select($"doc_id", explode(split($"text",
            graft.storage.StatsPruning.TokenSplitRe)).as("tok"))
          .filter($"tok" =!= "")
          .groupBy($"tok").agg(countDistinct($"doc_id").as("d"))
          .orderBy($"d".asc, $"tok".asc).head().getString(0)
        val probe = graft.storage.FactTable.hasToken($"text", tok)
        val files = t.snapshot().files
        val statTouched = files.count(f =>
          !graft.storage.StatsPruning.canPrune(probe, f.stats))
        val (touched, total) = t.pruneReport(probe)
        require(statTouched == total,
          s"min/max stats cannot prune token predicates " +
            s"($statTouched of $total) at $dir")
        require(touched < total,
          s"token bloom must prune ($touched of $total kept) at $dir")
        val fpps = t.tokenBloomFpp("text")
        require(fpps.nonEmpty && fpps.forall(_._2 < 0.01),
          s"token blooms saturated: ${fpps.map(_._2).max} at $dir")
        t.readWhere(probe)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
            min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
          .orderBy($"lang")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(text, '[^A-Za-z0-9]+')) AS tok
          FROM documents),
        rare AS (
          SELECT tok FROM toks WHERE tok <> ''
          GROUP BY tok ORDER BY COUNT(DISTINCT doc_id) ASC, tok ASC LIMIT 1)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM documents, rare
        WHERE list_contains(
                string_split_regex(text, '[^A-Za-z0-9]+'), rare.tok)
        GROUP BY lang ORDER BY lang"""),
      doc = "tokenbf_v1 text skip index: per-part fixed-size token blooms (one distributed build pass per commit) prune hasToken keyword filters that min/max stats provably cannot; false-positive rate surfaced and bounded in-body"),

    // ------------------------------------------------------------------
    // dx33: N-GRAM BLOOM text skip index (ClickHouse `ngrambf_v1`) —
    // the SUBSTRING member of the text-skip family. The token bloom
    // (dx32) answers whole-token membership but is provably useless
    // for `LIKE '%pat%'` / contains: a substring can cross token
    // boundaries or sit inside a longer token. Character 3-grams make
    // substring pruning SOUND: a matching row must contain every
    // 3-gram of the pattern, so any 3-gram the part's bloom rejects
    // kills the part — including grams that SPAN the space in a
    // multi-token phrase, which is adjacency information no token
    // index can hold. The probe is therefore the corpus's rarest
    // ADJACENT TOKEN BIGRAM as a raw substring (data-derived at every
    // SF); min/max stats are again provably powerless (asserted), and
    // the oracle hash-checks the pruned read, bloom false positives
    // included. Per-part fpp surfaced and bounded — n-gram blooms
    // saturate faster than token blooms (distinct 3-grams ≫ distinct
    // tokens), which is exactly what the observability hook is for.
    QueryDef(
      "dx33_ngram_bloom_skip_index",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx33_fact")
        val t = new graft.storage.FactTable(dir, s,
          ngramBloomCols = Seq("text"))
        val docs = s.read.parquet(s"$sfDir/documents.parquet")
        val nParts = math.max(1, math.ceil(docs.count() / 16.0).toInt)
        t.append(docs.repartition(nParts, $"doc_id"), 0)
        // spread the bigram-phrase pass off the one-task doc scan (§2.5)
        val phrase = graft.Tables.spread(docs)
          .select($"doc_id", split(lower(trim($"text")), "\\s+").as("toks"))
          .select($"doc_id", explode(expr(
            """transform(sequence(1, size(toks) - 1),
                 i -> concat(element_at(toks, i), ' ',
                             element_at(toks, i + 1)))""")).as("ph"))
          .groupBy($"ph").agg(countDistinct($"doc_id").as("d"))
          .orderBy($"d".asc, $"ph".asc).head().getString(0)
        val probe = $"text".contains(phrase)
        val files = t.snapshot().files
        val statTouched = files.count(f =>
          !graft.storage.StatsPruning.canPrune(probe, f.stats))
        val (touched, total) = t.pruneReport(probe)
        require(statTouched == total,
          s"min/max stats cannot prune substring predicates " +
            s"($statTouched of $total) at $dir")
        require(touched < total,
          s"ngram bloom must prune ($touched of $total kept) at $dir")
        val fpps = t.ngramBloomFpp("text")
        require(fpps.nonEmpty && fpps.forall(_._2 < 0.05),
          s"ngram blooms saturated: ${fpps.map(_._2).max} at $dir")
        t.readWhere(probe)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
            min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
          .orderBy($"lang")
      },
      Some("""
        WITH pairs AS (
          SELECT doc_id, toks[g.i] || ' ' || toks[g.i + 1] AS ph
          FROM (SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                FROM documents) t,
               UNNEST(range(1, len(toks))) AS g(i)),
        rare AS (
          SELECT ph FROM pairs
          GROUP BY ph ORDER BY COUNT(DISTINCT doc_id) ASC, ph ASC LIMIT 1)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM documents, rare
        WHERE position(rare.ph IN text) > 0
        GROUP BY lang ORDER BY lang"""),
      doc = "ngrambf_v1 substring skip index: per-part character-3-gram blooms soundly prune contains/LIKE '%pat%' filters (every pattern gram must be present, space-spanning grams carry phrase adjacency no token index holds); rarest-adjacent-bigram probe, fpp surfaced and bounded in-body"),

    // ------------------------------------------------------------------
    // dx34: TTL ROLLUP — age-based DOWNSAMPLING on expiry (ClickHouse
    // `TTL date + INTERVAL 15 DAY GROUP BY keys SET v = sum(v)`):
    // the third member of the retention family after whole-part drop
    // (dx13 ttlExpire) and physical-delete (dx15): partitions older
    // than the cutoff are rewritten as ONE row per (date, key) with
    // sums preserved EXACTLY, so the telemetry contract "raw recent,
    // downsampled history" holds without losing a single unit of
    // aggregate mass. The checked output carries both the LOSSLESS
    // claim (cents/n_events identical to raw recomputation at every
    // date) and the PHYSICAL claim (rows_physical = 1 per key before
    // the cutoff, raw count after — the oracle models both). Cost is
    // O(expired partitions): the in-body require pins that recent
    // parts' paths survive the swap untouched. Cutoff is data-derived
    // (min event date + 15 days — exists at every SF).
    QueryDef(
      "dx34_ttl_rollup_downsample",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx34_fact")
        val t = new graft.storage.FactTable(dir, s)
        val ev = graft.Tables.events(s, sfDir)
          .select(to_date($"ts").as("date"), $"event_type",
            expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
            lit(1L).as("n"), $"event_id")
        t.append(ev, 0)
        t.compact(sortCols = Seq("event_type"))
        val cut = ev.agg(date_add(min($"date"), 15)).head().getDate(0)
        val before = t.snapshot().dataFiles.map(_.path).toSet
        val removed = t.ttlRollup(cut.toString,
          keyCols = Seq("event_type"), sumCols = Seq("cents", "n"))
        require(removed > 0L, s"rollup shrank nothing at $dir")
        val after = t.snapshot().dataFiles.map(_.path).toSet
        require((after & before).nonEmpty && !(after subsetOf before),
          s"recent parts must survive untouched while expired ones swap at $dir")
        val phys = t.read().filter($"date" < lit(cut)).count()
        val keys = ev.filter($"date" < lit(cut))
          .select($"date", $"event_type").distinct().count()
        require(phys == keys,
          s"downsampled history holds $phys rows, want $keys key rows at $dir")
        t.read().groupBy($"date", $"event_type")
          .agg(sum($"cents").as("cents"), sum($"n").as("n_events"),
            count(lit(1)).as("rows_physical"))
          .orderBy($"date", $"event_type")
      },
      Some("""
        WITH cut AS (SELECT MIN(CAST(ts AS DATE)) + 15 AS c FROM events),
        raw AS (
          SELECT CAST(ts AS DATE) AS date, event_type,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events)
        SELECT date, event_type,
               CAST(SUM(cents) AS BIGINT) AS cents,
               COUNT(*) AS n_events,
               CAST(CASE WHEN date < cut.c THEN 1 ELSE COUNT(*) END
                 AS BIGINT) AS rows_physical
        FROM raw CROSS JOIN cut
        GROUP BY date, event_type, cut.c
        ORDER BY date, event_type"""),
      doc = "TTL GROUP BY downsampling: expired partitions rewritten to one row per key with exact sums (raw recent, downsampled history); recent parts untouched, physical shrink and losslessness both oracle-modeled"),

    // ------------------------------------------------------------------
    // dx35: SAMPLE BY storage sampling (ClickHouse `SAMPLE BY
    // intHash32(user_id)` in the table's ORDER BY + `SELECT ... SAMPLE
    // 1/4`): approximate queries read a FRACTION OF THE BYTES, not a
    // post-scan row subsample. The sample key is a uniform hash of the
    // sampling unit (user_id — md5 first hex digit: 16 equal slices,
    // deterministic and identical in both engines, the t13 idiom), and
    // because rows are STORED range-clustered by that key, the SAMPLE
    // predicate `sample_key < '4'` is a leading-key range the ordinary
    // min/max stats prune — the in-body require pins that ≤ half the
    // parts are even opened (expected ~1/4). ClickHouse's two sampling
    // guarantees both fall out of hashing the UNIT rather than the row:
    // the sample is repeatable across queries/retries, and it is
    // CONSISTENT across tables sharing the key (the same users are
    // selected everywhere, so sampled joins/funnels stay coherent —
    // per-user event sets arrive whole, which row-random sampling can
    // never give). Extrapolation is the explicit ×4 ClickHouse applies
    // implicitly. At 100 TB: a 25% cost dashboard that never scans 75%
    // of the table — scheduling, listing, and IO all shrink with the
    // fraction because pruning happens in the LOG, not the scan.
    QueryDef(
      "dx35_sample_by_pruning",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx35_fact")
        val t = new graft.storage.FactTable(dir, s)
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
          .withColumn("sample_key",
            substring(md5($"user_id".cast("string")), 1, 1))
        // SAMPLE BY layout: range-cluster on the sample key so each
        // part owns a contiguous hash slice (tight min/max)
        t.append(ev.repartitionByRange(16, $"sample_key")
          .sortWithinPartitions($"sample_key"), 0)
        val probe = $"sample_key" < "4" // SAMPLE 1/4: hex digits 0..3
        val (touched, total) = t.pruneReport(probe)
        require(touched < total,
          s"sample read must prune ($touched of $total) at $dir")
        require(2 * touched <= total,
          s"SAMPLE 1/4 opened $touched of $total parts (> half) at $dir")
        t.readWhere(probe)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_sampled"),
            countDistinct($"user_id").as("users_sampled"),
            sum(expr("CAST(floor(value * 100) AS BIGINT)"))
              .as("cents_sampled"))
          .select($"event_type", $"n_sampled",
            ($"n_sampled" * 4).as("n_scaled"),
            $"users_sampled", $"cents_sampled")
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_sampled,
               COUNT(*) * 4 AS n_scaled,
               COUNT(DISTINCT user_id) AS users_sampled,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents_sampled
        FROM events
        WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '4'
        GROUP BY event_type ORDER BY event_type"""),
      doc = "SAMPLE BY storage sampling: unit-hash sample key range-clustered into the part layout makes SAMPLE 1/4 a stats-pruned leading-key range — a quarter of the BYTES, repeatable across retries and consistent across tables sharing the key (whole per-user histories); explicit x4 extrapolation, <= half the parts opened required in-body"),

    // ------------------------------------------------------------------
    // dx36: SKETCH-STATE MATERIALIZED VIEW (ClickHouse
    // AggregatingMergeTree + uniqState/uniqMerge) — dx31's MV carries
    // ADDITIVE partials (SummingMergeTree longs); the state-column
    // family generalizes it to NON-ADDITIVE aggregates: each insert
    // stores its batch's mergeable HLL sketch STATE per (date, type),
    // and the served read re-MERGES states (register-wise max —
    // associative + commutative, so any batch split yields the same
    // registers) before estimating. The lifecycle asserts the three MV
    // claims (replayed txn no-ops on both tables; partial rows bounded
    // by batches × keys, never base rows; physical convergence via
    // aggregatingCompact with a sketch-union merge is answer-neutral)
    // plus the structural serving guarantee (plan never references the
    // base dir). Surfaced per q77's sketch-audit recipe: the estimate
    // itself never leaves the engine — the row carries the EXACT NDV
    // (oracle-checkable) and a verdict that the view-served estimate
    // lands inside the sketch's error envelope. At 100 TB this is the
    // unique-visitors dashboard: user ids are register-hashed once at
    // ingest, reads cost O(keys × un-merged batches) regardless of how
    // many trillion events the base holds.
    QueryDef(
      "dx36_sketch_state_view",
      (s, sfDir) => {
        import s.implicits._
        val bdir = graft.TempDirs.scratch("dx36_base")
        val vdir = graft.TempDirs.scratch("dx36_view")
        val mv = new graft.storage.SketchView(bdir, vdir, s,
          keyCols = Seq("event_type"), ndvCol = "user_id")
        val ev = graft.Tables.events(s, sfDir)
          .withColumn("date", to_date($"ts"))
          .select($"date", $"event_type", $"event_id", $"user_id")
        mv.insert(ev.filter($"event_id" % 3 === 0), 0)
        mv.insert(ev.filter($"event_id" % 3 === 1), 1)
        mv.insert(ev.filter($"event_id" % 3 === 2), 2)
        // replay of an already-committed batch: BOTH sides must no-op
        val replay = mv.insert(ev.filter($"event_id" % 3 === 1), 1)
        require(replay == ((false, false)),
          s"replayed txn was not idempotent on both tables: $replay")
        // maintenance-cost contract: view rows bounded by batches x keys
        val partials = mv.view.read().count()
        val keys = ev.select($"date", $"event_type").distinct().count()
        require(partials <= 3 * keys,
          s"view carries $partials rows > 3 batches x $keys keys")
        val pre = mv.readAggregate()
          .orderBy($"date", $"event_type").collect().toSeq
        mv.converge()
        val post = mv.readAggregate()
          .orderBy($"date", $"event_type").collect().toSeq
        require(pre == post,
          "sketch-union convergence changed a served answer")
        val served = mv.readAggregate()
        // the serving guarantee, structurally: no scan of the base table
        val plan = served.queryExecution.executedPlan.toString
        require(!plan.contains(bdir),
          "served aggregate reads the base table")
        val exact = ev.groupBy($"date", $"event_type")
          .agg(countDistinct($"user_id").as("uniq_exact"))
        served.join(exact, Seq("date", "event_type"))
          .select($"date", $"event_type", $"n", $"uniq_exact",
            (abs($"uniq_est" - $"uniq_exact")
              <= $"uniq_exact" / lit(20L) + lit(5L)).as("uniq_ok"))
          .orderBy($"date", $"event_type")
      },
      Some("""
        SELECT CAST(ts AS DATE) AS date, event_type,
               COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS uniq_exact,
               TRUE AS uniq_ok
        FROM events GROUP BY 1, 2 ORDER BY date, event_type"""),
      doc = "sketch-state materialized view (AggregatingMergeTree uniqState/uniqMerge): per-batch mergeable HLL states stored per key under the base append's txn id, served NDV re-merges states only (register-wise max, any batch split identical) and never rescans the base; convergence via sketch-union aggregatingCompact proven answer-neutral, estimate surfaced only as an exact-vs-envelope verdict"),

    // ------------------------------------------------------------------
    // dx37: COLUMN-level TTL (ClickHouse `props String TTL date +
    // INTERVAL 15 DAY` / `TTL ... SET props = ''`) — the retention
    // member the row family cannot express: on expiry the COLUMN loses
    // its value, not the row. dx13 drops whole parts, dx15 deletes
    // physically, dx34 downsamples rows to key aggregates; dx37 blanks
    // the high-cardinality payload (the raw `props` JSON — exactly the
    // column a privacy/footprint policy targets) while the row's
    // aggregable skeleton stays queryable forever: counts and cents are
    // IDENTICAL before and after at every date (the oracle proves it),
    // the per-date props NDV collapses to 1 below the cutoff and stays
    // raw above it, and recent parts are never listed, read, or
    // rewritten (path-survival require). Same atomic swap + time travel
    // as the other TTL flavors; idempotent (constant → same constant).
    // At 100 TB this is how a decade of telemetry keeps its dashboard
    // while its payload bytes — usually >90% of the table — age out on
    // schedule.
    QueryDef(
      "dx37_ttl_column_default",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx37_fact")
        val t = new graft.storage.FactTable(dir, s)
        val ev = graft.Tables.events(s, sfDir)
          .select(to_date($"ts").as("date"), $"event_type", $"event_id",
            $"props", expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        t.append(ev, 0)
        t.compact(sortCols = Seq("event_type"))
        val cut = ev.agg(date_add(min($"date"), 15)).head().getDate(0)
        val before = t.snapshot().dataFiles.map(_.path).toSet
        val rewritten = t.ttlColumn(cut.toString, "props", lit(""))
        require(rewritten > 0L, s"column TTL rewrote nothing at $dir")
        val after = t.snapshot().dataFiles.map(_.path).toSet
        require((after & before).nonEmpty && !(after subsetOf before),
          s"recent parts must survive untouched while expired ones swap at $dir")
        t.read().groupBy($"date")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents"),
            countDistinct($"props").as("props_ndv"),
            sum(length($"props")).as("props_chars"))
          .orderBy($"date")
      },
      Some("""
        WITH cut AS (SELECT MIN(CAST(ts AS DATE)) + 15 AS c FROM events),
        aged AS (
          SELECT CAST(ts AS DATE) AS date,
                 CAST(floor(value * 100) AS BIGINT) AS cents,
                 CASE WHEN CAST(ts AS DATE) < cut.c THEN '' ELSE props END
                   AS props
          FROM events CROSS JOIN cut)
        SELECT date, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS cents,
               COUNT(DISTINCT props) AS props_ndv,
               CAST(SUM(length(props)) AS BIGINT) AS props_chars
        FROM aged GROUP BY date ORDER BY date"""),
      doc = "column-level TTL (ClickHouse TTL ... SET col = default): expired partitions rewritten with the high-cardinality payload column blanked while every row, count, and sum survives — the privacy/footprint retention the row family (drop/delete/rollup) cannot express; recent parts untouched (path-survival require), idempotent, same atomic swap + time travel"),

    // ------------------------------------------------------------------
    // dx38: TTL MOVE — storage TIERING on expiry (ClickHouse `TTL date +
    // INTERVAL 15 DAY MOVE TO VOLUME 'cold'`): the retention member
    // that RELOCATES instead of destroying — dx13 drops parts, dx15
    // deletes rows, dx34 downsamples, dx37 blanks a column; dx38 keeps
    // every byte of information but moves expired parts to a cold
    // volume (mirrored `<root>/cold/data/…` layout, zstd codec — the
    // cheap-per-stored-byte / slower-per-read trade). The four requires
    // pin the tiering contract: (1) parts actually moved, (2) recent
    // hot parts survive untouched (path survival) while every new path
    // is under the cold volume, (3) re-running is a no-op (idempotent),
    // and (4) the PRUNING SPLIT — a recent-date predicate keeps exactly
    // the hot files and an expired-date predicate keeps exactly the
    // cold ones, i.e. the hot dashboard never pays cold-volume latency
    // and the archive scan never touches the hot tier. The final
    // read proves the move is invisible to queries: per-date counts and
    // exact cents sums equal the source (the oracle never saw a move).
    // At 100 TB this is how a year of telemetry keeps its newest 15
    // days on NVMe and the rest on object storage without a view, a
    // union, or an application-level router.
    QueryDef(
      "dx38_ttl_move_cold_volume",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx38_fact")
        val t = new graft.storage.FactTable(dir, s)
        val ev = graft.Tables.events(s, sfDir)
          .select(to_date($"ts").as("date"), $"event_type", $"event_id",
            expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        t.append(ev, 0)
        t.compact(sortCols = Seq("event_type"))
        val cut = ev.agg(date_add(min($"date"), 15)).head().getDate(0)
        val before = t.snapshot().dataFiles.map(_.path).toSet
        val moved = t.ttlMove(cut.toString)
        require(moved > 0L, s"ttlMove relocated nothing at $dir")
        val after = t.snapshot().dataFiles.map(_.path).toSet
        require((after & before).nonEmpty,
          s"recent hot parts must survive a move untouched at $dir")
        val coldPaths = after -- before
        require(coldPaths.nonEmpty &&
          coldPaths.forall(_.contains("/cold/data/")),
          s"moved parts must land under the cold volume at $dir")
        require(t.ttlMove(cut.toString) == 0L,
          s"ttlMove must be idempotent at $dir")
        val (hotKept, total) = t.pruneReport($"date" >= lit(cut))
        val (coldKept, _) = t.pruneReport($"date" < lit(cut))
        require(total == after.size && hotKept == (after & before).size &&
          coldKept == coldPaths.size,
          s"tier pruning split broken: hot $hotKept cold $coldKept of " +
            s"$total at $dir")
        t.read().groupBy($"date")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
          .orderBy($"date")
      },
      Some("""
        SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events GROUP BY 1 ORDER BY date"""),
      doc = "TTL MOVE storage tiering (ClickHouse TTL ... MOVE TO VOLUME 'cold'): expired parts rewritten row-identical under the mirrored cold-volume layout with the zstd cold codec and atomically swapped — hot parts untouched (path survival), idempotent re-run, and the pruning split required in-body: recent-date predicates keep exactly the hot files, expired-date predicates exactly the cold ones; the final per-date count/sum read matches the never-moved source"),

    // ------------------------------------------------------------------
    // dx39: ARRAY-ELEMENT BLOOM skip index (ClickHouse `INDEX tags_idx
    // tags TYPE bloom_filter` on an `Array(String)` column, probed by
    // `has(tags, 'x')`) — the ARRAY member of the skip-index family
    // after scalar bloom (dx16), set (dx30), token (dx32) and n-gram
    // (dx33): tag/label membership is THE filter shape of labeled
    // telemetry and curated corpora, and it is doubly stats-proof —
    // parquet footers carry NO min/max for array columns at all
    // (asserted in-body: stats keep every part), so at 100 TB every
    // `has(tags, …)` filter scans the corpus without this sidecar. The
    // per-part sidecar is one element-type tag byte + a bloom over the
    // part's exploded elements; the probe is an ordinary
    // `array_contains(tags, 'd17')` conjunct recognized by
    // StatsPruning.arrayContainsProbes (direct attribute only — a
    // computed array like hasToken's split belongs to the token index).
    // The day-tag plant makes prune power structural: tag 'd<day>'
    // appears only in that day's date-partitioned parts, so the bloom
    // keeps ~1/30 of the files (required < total; stats required
    // powerless). The type-tag guard is what keeps pruning SOUND under
    // type-coerced probes — FactTableSpec drives that edge directly.
    QueryDef(
      "dx39_array_bloom_skip_index",
      (s, sfDir) => {
        import s.implicits._
        val dir = graft.TempDirs.scratch("dx39_fact")
        val t = new graft.storage.FactTable(dir, s,
          arrayBloomCols = Seq("tags"))
        val ev = graft.Tables.events(s, sfDir)
          .select(to_date($"ts").as("date"), $"event_id",
            expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
            array($"event_type",
              concat(lit("d"), dayofmonth(to_date($"ts")).cast("string")),
              concat(lit("u"), ($"user_id" % 7).cast("string")))
              .as("tags"))
        t.append(ev, 0)
        t.compact(sortCols = Seq("event_id"))
        val probe = array_contains($"tags", "d17")
        val files = t.snapshot().dataFiles
        val statTouched = files.count(f =>
          !graft.storage.StatsPruning.canPrune(probe, f.stats))
        val (touched, total) = t.pruneReport(probe)
        require(statTouched == total,
          s"footer stats cannot prune array membership " +
            s"($statTouched of $total) at $dir")
        require(touched < total,
          s"array bloom must prune ($touched of $total kept) at $dir")
        t.readWhere(probe)
          .groupBy(($"event_id" % 5).as("bucket"))
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents"))
          .orderBy($"bucket")
      },
      Some("""
        SELECT event_id % 5 AS bucket, COUNT(*) AS n,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM events
        WHERE day(CAST(ts AS DATE)) = 17
        GROUP BY 1 ORDER BY bucket"""),
      doc = "array-element bloom skip index (ClickHouse bloom_filter on Array(String), has(tags, v) probes): per-part type-tagged bloom over exploded elements prunes array_contains conjuncts that footer stats provably cannot (arrays carry no min/max at all — asserted in-body); day-tag plant keeps ~1/30 of parts, type-tag guard keeps coerced probes from unsound pruning")
  )

  private def dashboardSlice(name: String, nRows: Long, nModems: Int,
      nChannels: Int, doc: String): QueryDef =
    QueryDef(
      name,
      (s, _) => {
        import s.implicits._
        val snapshots = s.range(0, nRows).toDF("id")
          .selectExpr(
            s"concat('m', id % $nModems) AS modem_name",
            s"timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0, (id div $nModems) * 10) AS timestamp",
            s"id div $nModems AS seq")
          .withColumn("downstream_channels", expr(
            s"""transform(sequence(0, ${nChannels - 1}), c -> named_struct(
                 'channel_id', c,
                 'snr_x10', 300 + (seq * 7 + c * 13) % 100,
                 'uncorrected', (seq % 100) * (c + 1)))"""))
        val w = Window.partitionBy($"modem_name", $"channel_id")
          .orderBy($"timestamp".asc)
        snapshots
          .select($"modem_name", $"timestamp",
            explode_outer($"downstream_channels").as("ch"))
          .filter($"ch".isNotNull)
          .select($"modem_name", $"timestamp",
            $"ch.channel_id".as("channel_id"),
            $"ch.snr_x10".as("snr_x10"), $"ch.uncorrected".as("uncorrected"))
          .withColumn("d", $"uncorrected" - lag($"uncorrected", 1).over(w))
          .withColumn("d", when($"d" < 0L, lit(null)).otherwise($"d"))
          .groupBy(window($"timestamp", "10 minutes").getField("start").as("bucket"),
            $"modem_name", $"channel_id")
          .agg(
            min($"snr_x10").as("min_snr_x10"),
            sum($"snr_x10").as("sum_snr_x10"),
            sum($"d").as("err_increase"),
            count(lit(1)).as("n"))
          .orderBy($"bucket", $"modem_name", $"channel_id")
      },
      Some(s"""
        WITH flat AS (
          SELECT 'm' || (id % $nModems) AS modem_name,
                 TIMESTAMP '2024-03-01 00:00:00' + INTERVAL 10 SECOND * (id // $nModems) AS ts,
                 CAST(c.c AS INTEGER) AS channel_id,
                 300 + ((id // $nModems) * 7 + c.c * 13) % 100 AS snr_x10,
                 ((id // $nModems) % 100) * (c.c + 1) AS uncorrected
          FROM range(0, $nRows) t(id)
          CROSS JOIN (SELECT unnest(range(0, $nChannels)) AS c) c),
        rated AS (
          SELECT modem_name, ts, channel_id, snr_x10,
                 CASE WHEN d < 0 THEN NULL ELSE d END AS d
          FROM (SELECT *, uncorrected - LAG(uncorrected, 1) OVER
                       (PARTITION BY modem_name, channel_id ORDER BY ts ASC) AS d
                FROM flat) x)
        SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS bucket, modem_name, channel_id,
               MIN(snr_x10) AS min_snr_x10,
               CAST(SUM(snr_x10) AS BIGINT) AS sum_snr_x10,
               CAST(SUM(d) AS BIGINT) AS err_increase, COUNT(*) AS n
        FROM rated
        GROUP BY 1, 2, 3
        ORDER BY bucket, modem_name, channel_id"""),
      doc = doc)
}
