package graft.queries

import graft.Oracle._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's dataflow-operator surface (SURVEY.md §2.1) as
  * oracle-verifiable queries. Each query is the Spark-first re-expression
  * of an etl-rust operator; file:line citations point at the behavior
  * being reproduced.
  */
object DataflowQueries {

  /** S1 block-range source (etl-rust `src/main.rs:391-429`): iterate block
    * indices [start, end), synthesize a block per index, fan transactions
    * out of each block. Offline stand-in for the RPC fetch: a
    * deterministic arithmetic generator (portable to DuckDB's range()).
    * Scale: spark.range is already partitioned across executors — the
    * fetch/transform runs where the partition lives; no shuffle until the
    * final tiny agg. */
  def q29RangeSource(s: SparkSession, dir: String): DataFrame =
    s.range(0L, 2000L).toDF("block_number")
      .withColumn("n_tx", (col("block_number") * 2654435761L) % 97 % 7)
      .withColumn("tx_i",
        explode(when(col("n_tx") > 0, sequence(lit(0L), col("n_tx") - 1))
          .otherwise(expr("CAST(array() AS array<bigint>)"))))
      .withColumn("fee",
        ((col("block_number") * 31 + col("tx_i")) * 1103515245L + 12345L) % 1000003L)
      .groupBy((col("block_number") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_txs"),
        countDistinct(col("block_number")).as("n_blocks"),
        sum(col("fee")).as("total_fees"))
      .orderBy(col("bucket"))

  val q29Sql: String =
    """SELECT block_number % 10 AS bucket, COUNT(*) AS n_txs,
      |  COUNT(DISTINCT block_number) AS n_blocks,
      |  CAST(SUM(fee) AS BIGINT) AS total_fees
      |FROM (
      |  SELECT block_number,
      |    ((block_number * 31 + tx_i) * 1103515245 + 12345) % 1000003 AS fee
      |  FROM (
      |    SELECT block_number,
      |      unnest(range(0, (block_number * 2654435761) % 97 % 7)) AS tx_i
      |    FROM range(0, 2000) t(block_number)))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** T2 block→tables fan-out (etl-rust `docs/etl-infrastructure-
    * architecture.md:13`): nested parent record exploded into child-table
    * records. Here: nest lineitems into their order (collect_list of
    * structs — the "block" shape), then explode back out and aggregate.
    * The oracle computes the same result directly from the flat tables,
    * proving row/value conservation through the nest/unnest round-trip. */
  def q30NestUnnest(s: SparkSession, dir: String): DataFrame = {
    val nested = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))).as("lines"))
    val exploded = nested
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), explode(col("lines")).as("ln"))
    exploded.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("ln.l_extendedprice") * (lit(1) - col("ln.l_discount"))).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val q30Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** T4 timestamp normalization (etl-rust `Cargo.toml:181-183`,
    * `src/features.rs:20-21`): the sink-dependent STRING_TIMESTAMP /
    * INT_TIMESTAMP modes as parallel projections of the same column. */
  def q31TimestampModes(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("ts_iso"),
        unix_millis(col("ts")).as("ts_epoch_ms"))
      .orderBy(col("event_id"))
      .limit(500)

  val q31Sql: String =
    """SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso,
      |  epoch_ms(ts) AS ts_epoch_ms
      |FROM events ORDER BY event_id LIMIT 500""".stripMargin

  /** T7 JSON serialization (etl-rust `src/output/json.rs:61`,
    * `jsonl.rs:61,87`): one JSON document per record via
    * to_json(struct(...)). Both engines render compact
    * {"k":v,...} with struct field order preserved. */
  def q32JsonSerialize(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .select(col("n_nationkey"),
        to_json(struct(col("n_nationkey"), col("n_name"), col("n_regionkey")))
          .as("record_json"))
      .orderBy(col("n_nationkey"))

  val q32Sql: String =
    """SELECT n_nationkey,
      |  to_json({'n_nationkey': n_nationkey, 'n_name': n_name,
      |           'n_regionkey': n_regionkey}) AS record_json
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** T1 JSON→typed deserialize (etl-rust `docs/deserialization.md:3-7`):
    * parse the events.props JSON payload into a typed value and aggregate
    * it — the from-wire-format path. */
  def q33JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        round(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val q33Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  round(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** K7 GCS time-partitioned sink's bucketing (etl-rust
    * `src/output/gcs.rs:96-115`): 30-minute epoch-aligned buckets. The
    * reference hand-slices a sorted batch; Spark's window() is the
    * order-independent equivalent (SURVEY.md §7 semantic upgrade note).
    * Scale: bucket column derives per-row (no sort); as a write partition
    * key it gives partition pruning on read. */
  def q34TimeBuckets(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("bucket_start"), col("n_events"), col("total_value"))
      .orderBy(col("bucket_start"))

  val q34Sql: String =
    s"""SELECT time_bucket(INTERVAL '30 minutes', ts) AS bucket_start,
      |  COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sliding time windows (30-min length, 10-min slide): every event
    * lands in exactly 3 overlapping windows. The oracle reconstructs the
    * same assignment arithmetically (epoch-aligned 10-min grid, k∈0..2),
    * proving Spark's window() slide semantics. Scale: slide factor
    * multiplies rows 3× before the shuffle — partial aggregation still
    * combines map-side per (window, key). */
  def q57SlidingWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "30 minutes", "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("w.start").as("win_start"), col("n_events"), col("total_value"))
      .orderBy(col("win_start"))

  val q57Sql: String =
    s"""SELECT win_start, COUNT(*) AS n_events,
      |  ${dsumSql("value")} AS total_value
      |FROM (
      |  SELECT time_bucket(INTERVAL '10 minutes', ts)
      |    - to_minutes(10 * k) AS win_start, value
      |  FROM events, unnest(range(0, 3)) t(k))
      |GROUP BY win_start ORDER BY win_start""".stripMargin

  /** C5 throughput estimator (etl-rust `src/benchmark.rs:18-64`):
    * bytes/s = record-size proxy × records / window-seconds, as one
    * aggregate over the event stream (record size ≈ serialized props +
    * fixed envelope, mirroring "size of first valid block as JSON"). */
  def q35Throughput(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .agg(
        count(lit(1)).as("n_records"),
        round((sum(length(col("props")) + 64) * lit(1000.0)) /
          (unix_millis(max(col("ts"))) - unix_millis(min(col("ts")))), 2)
          .as("bytes_per_sec"),
        round((count(lit(1)) * lit(1000.0)) /
          (unix_millis(max(col("ts"))) - unix_millis(min(col("ts")))), 2)
          .as("records_per_sec"))

  val q35Sql: String =
    """SELECT COUNT(*) AS n_records,
      |  round(SUM(length(props) + 64) * 1000.0 /
      |    (epoch_ms(MAX(ts)) - epoch_ms(MIN(ts))), 2) AS bytes_per_sec,
      |  round(COUNT(*) * 1000.0 /
      |    (epoch_ms(MAX(ts)) - epoch_ms(MIN(ts))), 2) AS records_per_sec
      |FROM events""".stripMargin

  /** Time-series resampling: project each user's event stream onto an
    * hourly grid with forward-fill (last observation carried forward).
    * Single-pass union+window — the same carry-forward pattern as the
    * as-of join (q39), here against a generated grid. NULL-safe total
    * ordering via coalesce(event_id, MAX) — engines disagree on default
    * NULL sort order, so never let a NULL reach a window ORDER BY.
    * Scale: grid rows are generated per partition (no shuffle to build
    * them); the one shuffle is the per-user window. */
  def q60Resample(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
      .filter(col("user_id") < 5)
      .select(col("user_id"), col("ts"), col("value"), col("event_id"))
    val users = events.select(col("user_id")).distinct()
    // hourly grid: 2024-01-01T00:00Z .. +48h
    val grid = users.crossJoin(
        s.range(0, 48).select(
          timestamp_millis(lit(1704067200000L) + col("id") * 3600000L).as("ts")))
      .withColumn("value", lit(null).cast("double"))
      .withColumn("event_id", lit(null).cast("bigint"))
      .withColumn("is_event", lit(0))
    val tagged = events.withColumn("is_event", lit(1))
      .unionByName(grid)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_event").desc,
        coalesce(col("event_id"), lit(Long.MaxValue)))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    tagged
      .withColumn("ffill_value", last(col("value"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 0)
      .select(col("user_id"), col("ts").as("grid_ts"), col("ffill_value"))
      .orderBy(col("user_id"), col("grid_ts"))
  }

  val q60Sql: String =
    """SELECT user_id, ts AS grid_ts,
      |  last_value(value IGNORE NULLS) OVER (
      |    PARTITION BY user_id
      |    ORDER BY ts, is_event DESC, COALESCE(event_id, 9223372036854775807)
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
      |FROM (
      |  SELECT user_id, ts, value, event_id, 1 AS is_event
      |  FROM events WHERE user_id < 5
      |  UNION ALL
      |  SELECT u.user_id, epoch_ms(1704067200000 + h * 3600000) AS ts,
      |    NULL AS value, NULL AS event_id, 0 AS is_event
      |  FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 5) u,
      |    unnest(range(0, 48)) t(h))
      |QUALIFY is_event = 0
      |ORDER BY user_id, grid_ts""".stripMargin

  /** Histogram via width_bucket: fixed-width value buckets per event
    * type — the profiling aggregation. Integer bucket ids ⇒ oracle-exact. */
  def q61Histogram(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("bucket", width_bucket(col("value"), lit(0.0), lit(100.0), lit(10)))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("bucket_sum"))
      .orderBy(col("event_type"), col("bucket"))

  /** DuckDB 1.0 has no width_bucket — the oracle mirrors its semantics
    * (0 below min, numBuckets+1 at/above max, else floor-scaled + 1). */
  val q61Sql: String =
    s"""SELECT event_type,
      |  CASE WHEN value < 0.0 THEN 0
      |       WHEN value >= 100.0 THEN 11
      |       ELSE CAST(floor(value * 10 / 100.0) AS BIGINT) + 1 END AS bucket,
      |  COUNT(*) AS n, ${dsumSql("value")} AS bucket_sum
      |FROM events GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin

  /** T5 protobuf record serialization (etl-rust publishes prost
    * `encode_to_vec()` bytes from every queue sink —
    * `src/output/google_pubsub.rs:188-190`, `apache_kafka.rs:107-109`):
    * proto3-encode each synthetic tx record via the native
    * `proto_encode_tx` expression (graft.functions.Proto3) and aggregate
    * encoded sizes per bucket. The oracle recomputes every record's
    * encoded length analytically (varint width arithmetic in SQL);
    * byte-level exactness is proven by Proto3Spec's round-trip and
    * golden wire vectors. Scale: encode is a per-row codegen'd
    * projection — no shuffle added to the pipeline it serializes. */
  def q62ProtoEncode(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ProtoExpressions.protoEncodeTx
    s.range(0L, 2000L).toDF("block_number")
      .withColumn("n_tx", (col("block_number") * 2654435761L) % 97 % 7)
      .withColumn("tx_i",
        explode(when(col("n_tx") > 0, sequence(lit(0L), col("n_tx") - 1))
          .otherwise(expr("CAST(array() AS array<bigint>)"))))
      .withColumn("fee",
        ((col("block_number") * 31 + col("tx_i")) * 1103515245L + 12345L) % 1000003L)
      .withColumn("tx_hash", md5(concat_ws("-", col("block_number"), col("tx_i"))))
      .withColumn("enc", protoEncodeTx(col("block_number"), col("tx_i"),
        col("fee"), col("tx_hash")))
      .groupBy((col("block_number") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_txs"),
        sum(length(col("enc"))).cast("long").as("total_bytes"),
        min(length(col("enc"))).as("min_bytes"),
        max(length(col("enc"))).as("max_bytes"))
      .orderBy(col("bucket"))
  }

  val q62Sql: String = {
    import graft.functions.Proto3.encodedLenSql
    s"""SELECT bucket, COUNT(*) AS n_txs,
      |  CAST(SUM(enc_len) AS BIGINT) AS total_bytes,
      |  MIN(enc_len) AS min_bytes, MAX(enc_len) AS max_bytes
      |FROM (
      |  SELECT block_number % 10 AS bucket,
      |    ${encodedLenSql("block_number", "tx_i", "fee", "tx_hash")} AS enc_len
      |  FROM (
      |    SELECT block_number, tx_i,
      |      ((block_number * 31 + tx_i) * 1103515245 + 12345) % 1000003 AS fee,
      |      md5(concat(block_number, '-', tx_i)) AS tx_hash
      |    FROM (
      |      SELECT block_number,
      |        unnest(range(0, (block_number * 2654435761) % 97 % 7)) AS tx_i
      |      FROM range(0, 2000) t(block_number))))
      |GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Borsh round-trip under the hash gate (the reference's second wire
    * format — Cargo.toml:32): borsh-encode each synthetic tx with the
    * native `borsh_encode_tx` expression, decode with `borsh_decode_tx`
    * (typed struct out), and aggregate over the DECODED fields — the
    * grouping key, fee sum, and distinct-hash count all flow through
    * the codec, so any byte-level defect breaks the DuckDB hash match.
    * The oracle recomputes fees/hashes from the generator arithmetic
    * and encoded bytes analytically (borsh TxRecord = 28 + len(hash);
    * md5 hex is always 32). Scale: two codegen'd projections, zero
    * added shuffles. */
  def q90BorshRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.BorshExpressions.{borshDecodeTx, borshEncodeTx}
    s.range(0L, 2000L).toDF("block_number")
      .withColumn("n_tx", (col("block_number") * 2654435761L) % 97 % 7)
      .withColumn("tx_i",
        explode(when(col("n_tx") > 0, sequence(lit(0L), col("n_tx") - 1))
          .otherwise(expr("CAST(array() AS array<bigint>)"))))
      // fees shifted negative so the i64 (two's-complement LE) path is live
      .withColumn("fee",
        ((col("block_number") * 31 + col("tx_i")) * 1103515245L + 12345L) % 1000003L
          - lit(500000L))
      .withColumn("tx_hash", md5(concat_ws("-", col("block_number"), col("tx_i"))))
      .withColumn("enc", borshEncodeTx(col("block_number"), col("tx_i"),
        col("fee"), col("tx_hash")))
      .withColumn("dec", borshDecodeTx(col("enc")))
      .groupBy((col("dec.block_number") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_txs"),
        sum(col("dec.fee")).cast("long").as("total_fees"),
        sum(length(col("enc"))).cast("long").as("total_bytes"),
        countDistinct(col("dec.tx_hash")).as("n_hashes"))
      .orderBy(col("bucket"))
  }

  val q90Sql: String =
    """SELECT block_number % 10 AS bucket, COUNT(*) AS n_txs,
      |  CAST(SUM(fee) AS BIGINT) AS total_fees,
      |  CAST(SUM(28 + 32) AS BIGINT) AS total_bytes,
      |  CAST(COUNT(DISTINCT md5(concat(block_number, '-', tx_i))) AS BIGINT) AS n_hashes
      |FROM (
      |  SELECT block_number, tx_i,
      |    ((block_number * 31 + tx_i) * 1103515245 + 12345) % 1000003 - 500000 AS fee
      |  FROM (
      |    SELECT block_number,
      |      unnest(range(0, (block_number * 2654435761) % 97 % 7)) AS tx_i
      |    FROM range(0, 2000) t(block_number)))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Scalar function battery (string/date/math) — the §2.2 scalar surface
    * exercised in one projection; codecs base64/hex covered in q37. */
  def q36ScalarBattery(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderkey") <= 300)
      .select(col("o_orderkey"),
        upper(substring(col("o_orderpriority"), 1, 8)).as("pri_up"),
        concat_ws("#", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        (col("o_orderkey") % 7).as("m7"),
        abs(col("o_custkey") - 500).as("dist"),
        round(sqrt(col("o_totalprice")), 6).as("sqrt_price"),
        round(col("o_totalprice") * 1.1, 2).as("taxed"))
      .orderBy(col("o_orderkey"))

  val q36Sql: String =
    """SELECT o_orderkey, upper(substr(o_orderpriority, 1, 8)) AS pri_up,
      |  concat_ws('#', o_orderstatus, o_orderpriority) AS tag,
      |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      |  day(o_orderdate) AS dom, o_orderkey % 7 AS m7,
      |  abs(o_custkey - 500) AS dist,
      |  round(sqrt(o_totalprice), 6) AS sqrt_price,
      |  round(o_totalprice * 1.1, 2) AS taxed
      |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin

  /** Binary codecs (etl-rust deps base64/hex, `Cargo.toml:31-33`):
    * round-trip text through base64 and hex, emit digests — the
    * serialize-side codec surface as a projection. */
  def q37Codecs(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .select(col("n_nationkey"),
        base64(col("n_name").cast("binary")).as("b64"),
        hex(col("n_name").cast("binary")).as("hx"),
        md5(col("n_name").cast("binary")).as("name_md5"),
        length(unbase64(base64(col("n_name").cast("binary")))).as("rt_len"))
      .orderBy(col("n_nationkey"))

  val q37Sql: String =
    """SELECT n_nationkey, to_base64(encode(n_name)) AS b64,
      |  upper(hex(encode(n_name))) AS hx, md5(n_name) AS name_md5,
      |  octet_length(from_base64(to_base64(encode(n_name)))) AS rt_len
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** T6 round-trip under the hash gate: the transactions fan-out is
    * written as Avro containers (AvroSink, one file per partition) and
    * read back DISTRIBUTED (AvroSource, one task per file), then
    * aggregated — the oracle recomputes the same values from the S1
    * generator arithmetic, so any loss in the Avro encode/decode
    * (including timestamp micros) breaks the hash. */
  def q69AvroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("q69_avro").toString
    val tx = graft.operators.FanOut
      .tables(graft.sources.BlockSources.blockRange(s, 0, 2000))
      .transactions.coalesce(4)
    graft.sinks.AvroSink.write(tx, tmp, "transactions")
    val out = graft.sources.AvroSource.read(s, tmp, tx.schema)
      .groupBy((col("block_number") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_txs"),
        countDistinct(col("tx_id")).as("n_distinct_tx"),
        sum(col("fee")).cast("long").as("total_fees"),
        max(col("block_time")).as("max_time"))
      .orderBy(col("bucket"))
    graft.Staging.deferDelete(out, tmp, "q69")
  }

  val q69Sql: String =
    """SELECT bucket, COUNT(*) AS n_txs, COUNT(DISTINCT tx_id) AS n_distinct_tx,
      |  CAST(SUM(fee) AS BIGINT) AS total_fees, MAX(ts) AS max_time
      |FROM (
      |  SELECT block_number % 10 AS bucket,
      |    concat('tx_', block_number, '_', i - 1) AS tx_id,
      |    ((block_number * 31 + i - 1) * 1103515245 + 12345) % 1000003 AS fee,
      |    epoch_ms(1700000000000 + block_number * 400) AS ts
      |  FROM (
      |    SELECT block_number,
      |      unnest(range(1, (block_number * 2654435761) % 97 % 7 + 1)) AS i
      |    FROM range(0, 2000) t(block_number)))
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** zstd-compressed parquet round-trip (the reference carries zstd as a
    * first-class codec dep, etl-rust `Cargo.toml:15`): lineitem is
    * rewritten with `compression=zstd`, read back, and aggregated; the
    * oracle recomputes from the original (snappy) files, so the hash
    * proves the recompression is lossless. Scale: columnar write+read
    * are per-partition; zstd typically halves storage vs snappy at
    * similar scan speed — the codec you'd actually pick for a 100 TB
    * archive tier. Staged dir removed after the aggregate materializes. */
  def q82ZstdRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("q82_zstd").toString
    graft.Tables.lineitem(s, dir)
      .write.mode("overwrite").option("compression", "zstd").parquet(tmp)
    val out = s.read.parquet(tmp)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        graft.Oracle.dsum(col("l_extendedprice")).as("total_price"),
        max(col("l_shipdate")).as("last_ship"))
      .orderBy(col("l_returnflag"))
    graft.Staging.deferDelete(out, tmp, "q82")
  }

  val q82Sql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
      |  ${graft.Oracle.dsumSql("l_extendedprice")} AS total_price,
      |  MAX(l_shipdate) AS last_ship
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Schema evolution on an append-only table — the lifecycle every
    * long-lived ingest hits (the reference pins schemas at compile time
    * per chain version, `docs/protobuf.md:7-8`; a redeploy with new
    * proto fields is exactly this append): v1 files carry 3 columns,
    * v2 appends a 4th, `mergeSchema` reads the union with nulls
    * back-filled for v1 rows. The oracle simulates the same evolution
    * with a CASE over the flat table, so the hash proves null
    * back-filling and the merged footer schema are lossless. */
  def q89SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("q89_evo").toString
    val orders = Tables.orders(s, dir)
    orders.filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(tmp)
    orders.filter(col("o_orderkey") >= 1000)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .write.mode("append").parquet(tmp)
    val out = s.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy((col("o_orderkey") % 7).as("bucket"))
      .agg(count(lit(1)).as("n"),
        count(col("o_orderstatus")).as("n_with_status"),
        graft.Oracle.dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("bucket"))
    graft.Staging.deferDelete(out, tmp, "q89")
  }

  val q89Sql: String =
    s"""SELECT o_orderkey % 7 AS bucket, COUNT(*) AS n,
      |  COUNT(CASE WHEN o_orderkey >= 1000 THEN o_orderstatus END) AS n_with_status,
      |  ${graft.Oracle.dsumSql("o_totalprice")} AS total_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q102 — incremental aggregate maintenance (delta merge == recompute)

  /** The production incremental pattern at 100 TB: a stored per-key
    * aggregate state table is MERGED with the new day's delta instead of
    * recomputing over all history. Here the events table is split at a
    * cutoff into "state so far" and "today's delta"; each side aggregates
    * independently (per-key count / micro-grid sum / max event-time),
    * then one full-outer join combines them. The sum stays on the
    * dsum scaled-integer grid (rint(value·10⁶) as LONG) until after the
    * merge addition — integer addition is exact and associative, so
    * (state_sum + delta_sum) is bit-identical to the oracle's
    * single-pass dsum over all rows, which is precisely the
    * invariant incremental maintenance must guarantee. Timestamps merge
    * as epoch-millis BIGINTs (q92's trick). Scale: two partial-agg
    * passes + one key-partitioned join; the state side never rescans
    * history in production (it IS the stored table — modeled here by
    * computing it from the pre-cutoff slice). */
  def q102IncrementalMerge(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-25").cast("timestamp")
    def aggSide(df: DataFrame, p: String): DataFrame =
      df.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as(s"${p}_n"),
          sum(rint(col("value") * lit(1e6)).cast("long")).as(s"${p}_sv"),
          max(unix_millis(col("ts"))).as(s"${p}_last"))
    val ev = Tables.events(s, dir)
    val state = aggSide(ev.filter(col("ts") < cutoff), "s")
    val delta = aggSide(ev.filter(col("ts") >= cutoff), "d")
    state.join(delta, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        (coalesce(col("s_n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n_events"),
        ((coalesce(col("s_sv"), lit(0L)) + coalesce(col("d_sv"), lit(0L)))
          .cast("double") / lit(1e6)).as("total_value"),
        greatest(col("s_last"), col("d_last")).as("last_ms"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val q102Sql: String =
    s"""SELECT user_id, event_type, COUNT(*) AS n_events,
      |  ${graft.Oracle.dsumSql("value")} AS total_value,
      |  MAX(epoch_ms(ts)) AS last_ms
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q104 — runtime Bloom-filter join pruning (semi-join reduction)

  /** The 100 TB semi-join-reduction pattern: per-order revenue rollup
    * joined to a selectively-filtered dimension, with Catalyst's
    * runtime Bloom filter injected on the fact side. The optimizer
    * builds a Bloom filter from the filtered orders' keys and pushes
    * `bloom_filter_might_contain` onto the lineitem branch BELOW its
    * pre-aggregation — fact rows whose order fails the dimension
    * predicate die before the first shuffle, which is exactly where a
    * 100 TB scan needs them to die. Injection requires (a) a shuffle
    * join (merge hint — at real scale neither side broadcasts) and
    * (b) a shuffle below the application side (the rollup); the scan-
    * size threshold is lowered around materialization because the gate
    * tables are far under the 10 GiB production default, and restored
    * in a finally. PlanSpec asserts the injected filter on the live
    * optimized plan. Revenue is summed as exact integer CENTS through
    * both aggregation levels (the dsumScaled(·,2) idiom), with ONE
    * shared int64→double conversion and /100.0 at the end: the r12
    * sf100 sweep caught the previous DECIMAL formulation 1 ulp apart,
    * because Spark's decimal→double is one correctly-rounded
    * conversion while DuckDB's runs int128→double/10⁶ (two roundings).
    * Integer cents keep the total exactly representable (< 2⁵³) to
    * ~sf4000, and ANSI long sums throw loudly beyond int64. */
  def q104BloomPrunedJoin(s: SparkSession, dir: String): DataFrame = {
    graft.Sessions.withConf(s,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val out = q104Inner(s, dir)
      val schema = out.schema
      val rows = java.util.Arrays.asList(out.collect(): _*)
      s.createDataFrame(rows, schema)
    }
  }

  /** The lazy join plan (shared with PlanSpec, which manages the conf
    * itself so the assertion sees the injected filter). */
  def q104Inner(s: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(rint(col("l_extendedprice") * lit(100.0)).cast("long")).as("lv"))
    val hiValue = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey"), col("o_orderstatus"))
    perOrder.hint("merge")
      .join(hiValue, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("lv")).cast("double") / lit(100.0)).as("total_rev"))
      .orderBy(col("o_orderstatus"))
  }

  val q104Sql: String =
    // SUM(BIGINT) is HUGEINT in DuckDB — cast back through BIGINT before
    // DOUBLE (hugeint→double is not guaranteed correctly rounded;
    // int64→double is — the Oracle.dsum contract)
    """WITH po AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(round_even(l_extendedprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS lv
      |  FROM lineitem GROUP BY 1)
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(CAST(SUM(lv) AS BIGINT) AS DOUBLE) / 1e2 AS total_rev
      |FROM po JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 400000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q117 — cohort retention matrix

  /** The classic cohort analysis: users grouped by first-seen week,
    * counted in every later week they were active — the long-form
    * retention matrix (cohort_week, week_offset, n_users).
    *
    * Shape: first-event aggregate per user (one groupBy), distinct
    * per-user activity weeks (one groupBy), one equi-join on user, one
    * count aggregate keyed by (cohort, offset) — every step is a
    * partial-agg-friendly shuffle on bounded keys; no window, no
    * self-join on events. Week indices are exact epoch-millis integer
    * divisions on both engines. */
  def q117CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_millis(ts) div 604800000").as("wk"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val active = ev.distinct()
    active.join(cohort, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  val q117Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) // 604800000 AS wk FROM events),
      |cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1),
      |active AS (SELECT DISTINCT user_id, wk FROM ev)
      |SELECT c.cohort_wk, a.wk - c.cohort_wk AS week_offset,
      |  COUNT(*) AS n_users
      |FROM active a JOIN cohort c ON a.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q118 — ordered funnel analysis (view → click → purchase)

  /** The strict-order funnel: per user, the first view, the first click
    * AFTER that view, the first purchase AFTER that click; stage counts
    * bucketed by user cohort (user_id mod 4) so the output is a small
    * matrix. Event-sequence analytics the reference's warehouse would
    * run — here as three per-user aggregates chained by inequality
    * joins (each side is one row per user, so the joins are
    * user-keyed and partial-agg-sized; no window over raw events, no
    * event self-join). Timestamps compare as exact epoch millis. */
  def q118FunnelAnalysis(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
    def firstAfter(df: DataFrame, typ: String, afterCol: String,
        prev: DataFrame, outCol: String): DataFrame =
      df.filter(col("event_type") === typ)
        .join(prev, "user_id")
        .filter(col("ms") > col(afterCol))
        .groupBy(col("user_id"), col(afterCol))
        .agg(min(col("ms")).as(outCol))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ms")).as("v_ms"))
    val c = firstAfter(ev, "click", "v_ms", v, "c_ms")
    val p = firstAfter(ev, "purchase", "c_ms", c.select(col("user_id"), col("c_ms")), "p_ms")
    val stages = v.select(col("user_id"), lit(1).as("stage"))
      .unionByName(c.select(col("user_id"), lit(2).as("stage")))
      .unionByName(p.select(col("user_id"), lit(3).as("stage")))
    stages.groupBy((col("user_id") % 4).as("bucket"), col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("bucket"), col("stage"))
  }

  val q118Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (SELECT user_id, MIN(ms) AS v_ms FROM ev
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, v.v_ms, MIN(e.ms) AS c_ms
      |      FROM ev e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ms > v.v_ms
      |      GROUP BY 1, 2),
      |p AS (SELECT e.user_id, c.c_ms, MIN(e.ms) AS p_ms
      |      FROM ev e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ms > c.c_ms
      |      GROUP BY 1, 2),
      |stages AS (
      |  SELECT user_id, 1 AS stage FROM v
      |  UNION ALL SELECT user_id, 2 FROM c
      |  UNION ALL SELECT user_id, 3 FROM p)
      |SELECT user_id % 4 AS bucket, stage, COUNT(*) AS n_users
      |FROM stages GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q108 — time-grid forward-fill (gap imputation)

  /** Hourly per-user value series with gaps imputed by forward fill —
    * the resample-and-carry-forward pass that turns an irregular event
    * stream into a dense feature series (q60 resamples to observed
    * buckets; this completes the grid and fills the holes).
    *
    * Shape: per-user hour span → `sequence` explode builds the dense
    * grid (rows ∝ users × span, never a cross join); observed hourly
    * sums left-join in; `last(value, ignoreNulls)` over a
    * user-partitioned running frame carries the latest observation
    * forward. Every window is partitioned by user — grid and fill
    * parallelize across users with no global sort. Hour keys are exact
    * epoch-millis integer divisions; observed values decimal-sum to
    * identical doubles, and the fill only COPIES them. */
  def q108GapFill(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .filter(col("user_id") < 5)
      .select(col("user_id"), expr("unix_millis(ts) div 3600000").as("hr"), col("value"))
      .groupBy(col("user_id"), col("hr"))
      .agg(graft.Oracle.dsum(col("value")).as("v"))
    val grid = obs.groupBy(col("user_id"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hr"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        last(col("v"), ignoreNulls = true).over(w).as("filled_value"),
        col("v").isNull.as("was_gap"))
      .orderBy(col("user_id"), col("hr"))
  }

  val q108Sql: String =
    s"""WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) // 3600000 AS hr, value
      |  FROM events WHERE user_id < 5),
      |obs AS (SELECT user_id, hr, ${graft.Oracle.dsumSql("value")} AS v
      |        FROM ev GROUP BY 1, 2),
      |span AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM obs GROUP BY 1),
      |grid AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hr FROM span)
      |SELECT g.user_id, g.hr,
      |  last_value(o.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
      |  o.v IS NULL AS was_gap
      |FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.hr = o.hr
      |ORDER BY g.user_id, g.hr""".stripMargin

  // ---------------------------------------------------------------------
  // q231 — descriptor-driven fan-out under the hash gate

  /** The .proto-derived record-tree fan-out end to end: synthesize the
    * nested block range (S1 generator), derive the THREE child tables
    * mechanically from the checked-in block_record.proto via
    * [[graft.operators.FanOut.fromDescriptor]] (no hand-written schema
    * anywhere on this path), and aggregate each derived table into one
    * gated row. The oracle replays the generator arithmetic directly
    * (q29 idiom), so a descriptor mis-parse, a mis-fanned explode, or a
    * dropped/duplicated child row all hash-fail. Cross-table
    * consistency is part of the output: Σ n_txs from the root table
    * must equal the txs table's row count, and Σ n_accounts the
    * accounts table's.
    *
    * Scale: the fan-out inherits spark.range's partitioning — zero
    * shuffles until the three scalar aggregates. */
  def q231DescriptorFanOut(s: SparkSession, dir: String): DataFrame = {
    val t = graft.operators.FanOut.fromDescriptor(
      graft.sources.BlockSources.blockRange(s, 0, 2000),
      graft.operators.FanOut.descriptor)
    val b = t("block_record").agg(
      count(lit(1)).as("n_blocks"),
      max(unix_millis(col("block_time"))).as("max_time_ms"),
      sum(col("n_txs")).cast("long").as("sum_n_txs"))
    val tx = t("txs").agg(
      count(lit(1)).as("n_txs"),
      sum(col("fee")).cast("long").as("fee_sum"),
      sum(col("n_accounts")).cast("long").as("sum_n_accounts"))
    val ac = t("accounts").agg(
      count(lit(1)).as("n_account_refs"),
      countDistinct(col("account")).as("n_distinct_accounts"))
    b.crossJoin(tx).crossJoin(ac)
  }

  val q231Sql: String =
    """WITH blocks AS (
      |  SELECT block_number,
      |    1700000000000 + block_number * 400 AS bt_ms,
      |    (block_number * 2654435761) % 97 % 7 AS n_tx
      |  FROM range(0, 2000) t(block_number)),
      |txs AS (
      |  SELECT block_number, unnest(range(1, n_tx + 1)) AS i FROM blocks),
      |txf AS (
      |  SELECT block_number, i,
      |    ((block_number * 31 + i - 1) * 1103515245 + 12345) % 1000003 AS fee,
      |    (block_number + i) % 3 AS max_a
      |  FROM txs),
      |accts AS (
      |  SELECT block_number, i, unnest(range(0, max_a + 1)) AS a FROM txf),
      |acct AS (
      |  SELECT 'acct_' ||
      |    CAST((block_number * 7 + i * 13 + a * 29) % 1000 AS VARCHAR)
      |    AS account
      |  FROM accts)
      |SELECT
      |  (SELECT COUNT(*) FROM blocks) AS n_blocks,
      |  (SELECT CAST(MAX(bt_ms) AS BIGINT) FROM blocks) AS max_time_ms,
      |  (SELECT CAST(SUM(n_tx) AS BIGINT) FROM blocks) AS sum_n_txs,
      |  (SELECT COUNT(*) FROM txf) AS n_txs,
      |  (SELECT CAST(SUM(fee) AS BIGINT) FROM txf) AS fee_sum,
      |  (SELECT CAST(SUM(max_a + 1) AS BIGINT) FROM txf) AS sum_n_accounts,
      |  (SELECT COUNT(*) FROM acct) AS n_account_refs,
      |  (SELECT COUNT(DISTINCT account) FROM acct) AS n_distinct_accounts""".stripMargin
}
