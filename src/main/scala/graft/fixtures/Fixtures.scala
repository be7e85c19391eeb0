package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic Ekubo-shaped fact fixtures derived from the driver corpus.
  *
  * The driver's testdata (`/root/testdata/sf* /events.parquet`) has no DEX-event
  * tables, so every fact table of the reference schema
  * (`/root/reference/src/dao.ts:86-1541`) is derived *functionally* from the
  * `events` table with dialect-common SQL: the exact same text runs as Spark
  * temporary views and as the `WITH` prelude of each DuckDB oracle query, so
  * both engines see bit-identical inputs.
  *
  * Determinism rules (see FIXTURES.md):
  *   - integer/decimal arithmetic only for anything aggregated;
  *   - doubles only from deterministic IEEE ops (mul/add/floor on exact ints);
  *   - when an oracle must round a computed DOUBLE into DECIMAL, cast it
  *     through VARCHAR on the DuckDB side (`CAST(CAST(x AS VARCHAR) AS
  *     DECIMAL(p,s))`): Spark's cast rounds the shortest decimal
  *     representation (BigDecimal.valueOf) while DuckDB's direct cast
  *     rounds the full binary expansion — verified to differ (e.g.
  *     1/3 → …330000 vs …331968 at scale 20);
  *   - no engine-specific hash/random/time functions;
  *   - `cents = floor(value*100 + 0.5)` is exact (value has 2 decimals);
  *   - times are BIGINT epoch seconds (the reference's timestamptz semantics,
  *     without timestamp-dialect risk; reference stores int8 times itself for
  *     twamm/oracle rows, dao.ts:660-661, 710-711).
  *
  * Event-id packing mirrors `dao.ts:124`:
  *   id = block_number * 2^32 + transaction_index * 2^16 + event_index.
  */
object Fixtures {

  /** Base tables shipped by the driver (TESTDATA.md). */
  val baseTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  // Q128 fixed-point fee constants: floor(2^128 * bps / 10000)
  // (fee representation per dao.ts:1552-1554).
  private val fee1bps = "34028236692093846346337460743176821"
  private val fee5bps = "170141183460469231731687303715884105"
  private val fee30bps = "1020847100762815390390123822295304634"
  private val fee50bps = "1701411834604692317316873037158841057"

  /** 2^128 as a double literal (parses to exactly 2^128 in both engines). */
  val TwoPow128 = "3.402823669209385e38"

  /** A fixture table that is a filter of `ek`: the rows where `where` holds,
    * with the event's `id` as `event_id` followed by `columns`, pairs of
    * (column, SQL expression over `ek`'s columns). Declared once, it gives
    * the view's SQL in [[defs]], and so the DuckDB prelude, and the predicate
    * and expressions from which `CoreViews` projects the operational tier
    * out of one scan of `ek`. */
  final case class EkTable(name: String, where: String, columns: (String, String)*) {
    /** Every column of the table with its expression, `event_id` first. */
    def select: Seq[(String, String)] = ("event_id" -> "id") +: columns

    /** The SQL expression of column `c`. */
    def expr(c: String): String = select.collectFirst { case (`c`, e) => e }
      .getOrElse(throw new NoSuchElementException(s"$name has no column $c"))

    def sql: String = select.map { case (c, e) => s"$e AS $c" }
      .mkString("\n      SELECT ", ",\n             ", s"\n      FROM ek WHERE $where")
  }

  /** The fact tables that are filters of `ek` (FIXTURES.md §2 lists which
    * buckets feed which table). */
  val ekTables: Seq[EkTable] = Seq(
    // swaps (dao.ts:233-248). sqrt_ratio mirrored as DOUBLE for analytics
    // (u256 exactness is exercised by the decode layer, not the fixtures).
    EkTable("swaps", "bucket < 40",
      "locker" -> "'0xl' || CAST(user_id % 40 AS STRING)",
      "pool_key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "delta0" -> "CAST(sgn * cents * 100 AS DECIMAL(18,0))",
      "delta1" -> "CAST(-sgn * cents * 99 AS DECIMAL(18,0))",
      "sqrt_ratio_after" -> s"$TwoPow128 * (1.0 + CAST((cents % 200) * 10 - 1000 AS DOUBLE) * 5e-7)",
      "tick_after" -> "CAST((cents % 200) * 10 - 1000 AS BIGINT)",
      "liquidity_after" -> "CAST(1000000 + cents * 10 AS DECIMAL(18,0))"),

    // position_updates (dao.ts:145-163)
    EkTable("position_updates", "bucket BETWEEN 40 AND 59",
      "locker" -> "'0xl' || CAST(user_id % 40 AS STRING)",
      "pool_key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "salt" -> "'0x' || CAST(user_id % 20 AS STRING)",
      "lower_bound" -> "CAST((user_id % 10) * 100 - 500 AS BIGINT)",
      "upper_bound" -> "CAST((user_id % 10) * 100 - 400 + (seq % 3) * 100 AS BIGINT)",
      "liquidity_delta" -> "CAST(sgn * cents AS DECIMAL(18,0))",
      "delta0" -> "CAST(sgn * cents * 100 AS DECIMAL(18,0))",
      "delta1" -> "CAST(sgn * cents * 99 AS DECIMAL(18,0))"),

    // pool_initializations (dao.ts:221-230)
    EkTable("pool_initializations", "bucket BETWEEN 60 AND 61",
      "pool_key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "tick" -> "CAST((cents % 150) * 10 - 750 AS BIGINT)",
      "sqrt_ratio" -> s"$TwoPow128 * (1.0 + CAST((cents % 150) * 10 - 750 AS DOUBLE) * 5e-7)"),

    // fees_accumulated (dao.ts:210-219); zero amounts exercise the
    // `amount0 > 0` aggregation guards (dao.ts:1575).
    EkTable("fees_accumulated", "bucket BETWEEN 62 AND 66",
      "pool_key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "amount0" -> "CAST(CASE WHEN user_id % 5 = 0 THEN 0 ELSE cents * 3 END AS DECIMAL(18,0))",
      "amount1" -> "CAST(CASE WHEN user_id % 5 = 1 THEN 0 ELSE cents * 2 END AS DECIMAL(18,0))"),

    // position_fees_collected (dao.ts:165-180); withdrawals => deltas <= 0.
    EkTable("position_fees_collected", "bucket BETWEEN 67 AND 69",
      "pool_key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "owner" -> "'0xo' || CAST(user_id % 25 AS STRING)",
      "salt" -> "'0x' || CAST(user_id % 20 AS STRING)",
      "lower_bound" -> "CAST((user_id % 10) * 100 - 500 AS BIGINT)",
      "upper_bound" -> "CAST((user_id % 10) * 100 - 400 + (seq % 3) * 100 AS BIGINT)",
      "delta0" -> "CAST(-(cents * 2) AS DECIMAL(18,0))",
      "delta1" -> "CAST(-cents AS DECIMAL(18,0))"),

    // protocol_fees_paid (dao.ts:193-208); zeros exercise `delta != 0` guards.
    EkTable("protocol_fees_paid", "bucket BETWEEN 70 AND 71",
      "pool_key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "owner" -> "'0xo' || CAST(user_id % 25 AS STRING)",
      "salt" -> "'0x' || CAST(user_id % 20 AS STRING)",
      "lower_bound" -> "CAST((user_id % 10) * 100 - 500 AS BIGINT)",
      "upper_bound" -> "CAST((user_id % 10) * 100 - 400 + (seq % 3) * 100 AS BIGINT)",
      "delta0" -> "CAST(CASE WHEN user_id % 4 = 0 THEN 0 ELSE -(cents * 2) END AS DECIMAL(18,0))",
      "delta1" -> "CAST(CASE WHEN user_id % 4 = 1 THEN 0 ELSE -cents END AS DECIMAL(18,0))"),

    // protocol_fees_withdrawn (dao.ts:183-190)
    EkTable("protocol_fees_withdrawn", "bucket = 72",
      "recipient" -> "'0xa' || CAST(user_id AS STRING)",
      "token" -> "'0xt' || CAST(user_id % 10 AS STRING)",
      "amount" -> "CAST(cents AS DECIMAL(18,0))"),

    // position_transfers (dao.ts:134-143); '0x0' senders are mints.
    EkTable("position_transfers", "bucket BETWEEN 73 AND 74",
      "token_id" -> "CAST(user_id * 31 % 500 AS BIGINT)",
      "from_address" -> "CASE WHEN seq % 4 = 0 THEN '0x0' ELSE '0xa' || CAST(user_id AS STRING) END",
      "to_address" -> "'0xa' || CAST((user_id + 7) % 150 AS STRING)"),

    // position_minted_with_referrer (dao.ts:250-257)
    EkTable("position_minted_with_referrer", "bucket = 75",
      "token_id" -> "CAST(user_id * 31 % 500 AS BIGINT)",
      "referrer" -> "'0xr' || CAST(user_id % 5 AS STRING)"),

    // twamm_order_updates (dao.ts:650-667); times BIGINT epoch, window-aligned
    // so orders overlap execution times (dao.ts:786-794 semantics).
    EkTable("twamm_order_updates", "bucket BETWEEN 76 AND 78",
      "key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "owner" -> "'0xo' || CAST(user_id % 25 AS STRING)",
      "salt" -> "'0x' || CAST(user_id % 20 AS STRING)",
      "sale_rate_delta0" -> "CAST(sgn * cents * 10 AS DECIMAL(18,0))",
      "sale_rate_delta1" -> "CAST(sgn * cents * 7 AS DECIMAL(18,0))",
      "start_time" -> "btime - (btime % 1024)",
      "end_time" -> "btime - (btime % 1024) + 1024 * (1 + user_id % 8)"),

    // twamm_proceeds_withdrawals (dao.ts:669-686)
    EkTable("twamm_proceeds_withdrawals", "bucket = 79",
      "key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "owner" -> "'0xo' || CAST(user_id % 25 AS STRING)",
      "salt" -> "'0x' || CAST(user_id % 20 AS STRING)",
      "amount0" -> "CAST(cents * 3 AS DECIMAL(18,0))",
      "amount1" -> "CAST(cents * 2 AS DECIMAL(18,0))",
      "start_time" -> "btime - (btime % 1024)",
      "end_time" -> "btime - (btime % 1024) + 1024 * (1 + user_id % 8)"),

    // twamm_virtual_order_executions (dao.ts:688-699)
    EkTable("twamm_virtual_order_executions", "bucket BETWEEN 80 AND 82",
      "key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "token0_sale_rate" -> "CAST(cents * 10 AS DECIMAL(18,0))",
      "token1_sale_rate" -> "CAST(cents * 7 AS DECIMAL(18,0))",
      "delta0" -> "CAST(sgn * cents AS DECIMAL(18,0))",
      "delta1" -> "CAST(-sgn * cents AS DECIMAL(18,0))"),

    // staker_staked / staker_withdrawn (dao.ts:283-304)
    EkTable("staker_staked", "bucket BETWEEN 83 AND 85",
      "from_address" -> "'0xs' || CAST(user_id % 30 AS STRING)",
      "amount" -> "CAST(cents * 100 AS DECIMAL(18,0))",
      "delegate" -> "'0xd' || CAST(user_id % 7 AS STRING)"),

    EkTable("staker_withdrawn", "bucket = 86",
      "from_address" -> "'0xs' || CAST(user_id % 30 AS STRING)",
      "amount" -> "CAST(cents * 50 AS DECIMAL(18,0))",
      "recipient" -> "'0xa' || CAST(user_id AS STRING)",
      "delegate" -> "'0xd' || CAST(user_id % 7 AS STRING)"),

    // governor_voted (dao.ts:342-355)
    EkTable("governor_voted", "bucket BETWEEN 89 AND 91",
      "id" -> "'0xprop' || CAST(user_id % 15 AS STRING)",
      "voter" -> "'0xv' || CAST(seq % 50 AS STRING)",
      "weight" -> "CAST(cents AS DECIMAL(18,0))",
      "yea" -> "(seq % 3) < 2"),

    // governor_canceled / governor_executed (dao.ts:342-382)
    EkTable("governor_canceled", "bucket = 92 AND user_id % 2 = 0",
      "id" -> "'0xprop' || CAST(user_id % 15 AS STRING)"),

    EkTable("governor_executed", "bucket = 92 AND user_id % 2 = 1",
      "id" -> "'0xprop' || CAST(user_id % 15 AS STRING)"),

    EkTable("governor_proposal_described", "bucket = 93",
      "id" -> "'0xprop' || CAST(user_id % 15 AS STRING)",
      "description" -> "'proposal ' || CAST(user_id % 15 AS STRING) || ' description'"),

    // token_registrations v1 (dao.ts:259-268): name/symbol felt-packed short
    // strings ("TokenD"/"TKD", D = last digit; 92837519912496 = pack("Token0"),
    // 5524272 = pack("TK0")). user_id%10=9 yields 1-char symbol "T" (invalid,
    // filtered by the registration validation view, dao.ts:989-999).
    EkTable("token_registrations", "bucket = 94",
      "address" -> "'0xt' || CAST(user_id % 10 AS STRING)",
      "name" -> "CAST(92837519912496 + user_id % 10 AS DECIMAL(38,0))",
      "symbol" -> "CAST(CASE WHEN user_id % 10 = 9 THEN 84 ELSE 5524272 + user_id % 10 END AS DECIMAL(38,0))",
      "decimals" -> "CAST(6 + (user_id % 3) * 6 AS BIGINT)",
      "total_supply" -> "CAST(cents * 1000 AS DECIMAL(18,0))"),

    // token_registrations_v3 (dao.ts:270-281): VARCHAR name/symbol.
    EkTable("token_registrations_v3", "bucket = 95",
      "address" -> "'0xt' || CAST(user_id % 10 AS STRING)",
      "name" -> "'Token' || CAST(user_id % 10 AS STRING)",
      "symbol" -> "CASE WHEN user_id % 10 = 9 THEN 'T' ELSE 'TK' || CAST(user_id % 10 AS STRING) END",
      "decimals" -> "CAST(6 + (user_id % 3) * 6 AS BIGINT)",
      "total_supply" -> "CAST(cents * 1000 AS DECIMAL(18,0))"),

    // limit_order_placed / limit_order_closed (dao.ts:715-747)
    EkTable("limit_order_placed", "bucket BETWEEN 96 AND 97",
      "key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "owner" -> "'0xo' || CAST(user_id % 25 AS STRING)",
      "salt" -> "'0x' || CAST(user_id % 20 AS STRING)",
      "token0" -> "'0xt' || CAST(pool_id % 5 AS STRING)",
      "token1" -> "'0xt' || CAST(5 + pool_id % 5 AS STRING)",
      "tick" -> "CAST((cents % 100) * 10 - 500 AS BIGINT)",
      "liquidity" -> "CAST(cents * 5 AS DECIMAL(18,0))",
      "amount" -> "CAST(cents * 4 AS DECIMAL(18,0))"),

    EkTable("limit_order_closed", "bucket = 98",
      "key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "owner" -> "'0xo' || CAST(user_id % 25 AS STRING)",
      "salt" -> "'0x' || CAST(user_id % 20 AS STRING)",
      "token0" -> "'0xt' || CAST(pool_id % 5 AS STRING)",
      "token1" -> "'0xt' || CAST(5 + pool_id % 5 AS STRING)",
      "tick" -> "CAST((cents % 100) * 10 - 500 AS BIGINT)",
      "amount0" -> "CAST(cents AS DECIMAL(18,0))",
      "amount1" -> "CAST(cents * 2 AS DECIMAL(18,0))"),

    // oracle_snapshots (dao.ts:701-713)
    EkTable("oracle_snapshots", "bucket = 99 AND user_id % 2 = 0",
      "key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "token0" -> "'0xt' || CAST(pool_id % 5 AS STRING)",
      "token1" -> "'0xt' || CAST(5 + pool_id % 5 AS STRING)",
      "index" -> "CAST(seq % 64 AS BIGINT)",
      "snapshot_block_timestamp" -> "btime",
      "snapshot_tick_cumulative" -> "CAST(cents * btime % 1000000007 AS DECIMAL(18,0))"),

    // liquidity_updated — spline pools (dao.ts:749-763). Zero-liquidity-factor
    // events are dropped at ingest (eventProcessors.ts:88-93), mirrored here.
    EkTable("liquidity_updated", "bucket = 99 AND user_id % 2 = 1 AND user_id % 6 != 0",
      "pool_key_hash" -> "'0xp' || CAST(pool_id AS STRING)",
      "sender" -> "'0xa' || CAST(user_id AS STRING)",
      "liquidity_factor" -> "CAST(cents AS DECIMAL(18,0))",
      "shares" -> "CAST(cents * 2 AS DECIMAL(18,0))",
      "amount0" -> "CAST(cents * 3 AS DECIMAL(18,0))",
      "amount1" -> "CAST(cents * 4 AS DECIMAL(18,0))",
      "protocol_fees0" -> "CAST(CAST(FLOOR(CAST(cents AS DOUBLE) / 100) AS BIGINT) AS DECIMAL(18,0))",
      "protocol_fees1" -> "CAST(CAST(FLOOR(CAST(cents AS DOUBLE) / 100) AS BIGINT) AS DECIMAL(18,0))"))

  /** The declaration of the `ek` filter `name`. */
  def ekTable(name: String): EkTable = ekTables.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"no ek table $name"))

  /** Fixture view definitions, topologically ordered.
    * Dialect-common SQL: runs unchanged in Spark SQL and DuckDB. */
  val defs: Seq[(String, String)] = Seq(
    // ------------------------------------------------------------------
    // raw: enrich each event with deterministic derivation columns.
    // 8 events per block; 120 s block spacing => ~30 blocks/hour.
    "raw" -> s"""
      SELECT e.event_id AS seq,
             e.event_id % 100 AS bucket,
             e.user_id AS user_id,
             e.event_type AS event_type,
             CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN e.event_id % 5 = 4 THEN -1 ELSE 1 END AS sgn,
             e.user_id % 16 AS pool_id,
             1000 + CAST(FLOOR(CAST(e.event_id AS DOUBLE) / 8) AS BIGINT) AS block_number,
             CAST(FLOOR(CAST(e.event_id % 8 AS DOUBLE) / 2) AS BIGINT) AS transaction_index,
             e.event_id % 2 AS event_index
      FROM events e""",

    // ek: universal event key (dao.ts:122-132) + block time.
    "ek" -> s"""
      SELECT r.*,
             r.block_number * 4294967296 + r.transaction_index * 65536 + r.event_index AS id,
             '0xtx' || CAST(r.block_number AS STRING) || '_' || CAST(r.transaction_index AS STRING) AS transaction_hash,
             1704067200 + (r.block_number - 1000) * 120 AS btime,
             CASE WHEN r.bucket < 76 THEN '0xcore'
                  WHEN r.bucket < 83 THEN '0xtwamm'
                  WHEN r.bucket < 87 THEN '0xstaker'
                  WHEN r.bucket < 94 THEN '0xgovernor'
                  WHEN r.bucket < 96 THEN '0xtokenreg'
                  WHEN r.bucket < 99 THEN '0xlimitorders'
                  ELSE '0xmisc' END AS emitter
      FROM raw r""",

    // blocks (dao.ts:96-105); time = BIGINT epoch seconds.
    "blocks" -> s"""
      SELECT b.number,
             '0xb' || CAST(b.number AS STRING) AS hash,
             1704067200 + (b.number - 1000) * 120 AS time
      FROM (SELECT DISTINCT block_number AS number FROM raw) b""",

    // event_keys (dao.ts:122-132)
    "event_keys" -> s"""
      SELECT id, transaction_hash, block_number, transaction_index, event_index, emitter
      FROM ek""",

    // pool_keys dimension (dao.ts:107-119); 16 pools, token0 < token1 by
    // construction (dao.ts:44-47 ordering rule).
    "pool_keys" -> s"""
      SELECT DISTINCT
             '0xp' || CAST(pool_id AS STRING) AS key_hash,
             '0xt' || CAST(pool_id % 5 AS STRING) AS token0,
             '0xt' || CAST(5 + pool_id % 5 AS STRING) AS token1,
             CAST(CASE pool_id % 4 WHEN 0 THEN '$fee1bps' WHEN 1 THEN '$fee5bps'
                  WHEN 2 THEN '$fee30bps' ELSE '$fee50bps' END AS DECIMAL(38,0)) AS fee,
             CAST(10 * (1 + pool_id % 3) AS BIGINT) AS tick_spacing,
             CASE WHEN pool_id % 4 = 3 THEN '0xext' ELSE '0x0' END AS extension
      FROM raw""") ++
    ekTables.map(t => t.name -> t.sql) ++ Seq(
    // governor_reconfigured (dao.ts:306-320); 3 config versions.
    "governor_reconfigured" -> s"""
      SELECT MIN(id) AS event_id,
             user_id % 3 AS version,
             3600 * (1 + user_id % 3) AS voting_start_delay,
             86400 AS voting_period,
             1800 AS voting_weight_smoothing_duration,
             CAST(500000 AS DECIMAL(18,0)) AS quorum,
             CAST(1000 AS DECIMAL(18,0)) AS proposal_creation_threshold,
             3600 AS execution_delay,
             86400 AS execution_window
      FROM ek WHERE bucket = 87 GROUP BY user_id % 3""",

    // governor_proposed (dao.ts:322-340); proposal id space of 15, deduped to
    // the first proposing event (PK semantics).
    "governor_proposed" -> s"""
      SELECT MIN(id) AS event_id,
             '0xprop' || CAST(user_id % 15 AS STRING) AS id,
             '0xu' || CAST((user_id % 15) % 7 AS STRING) AS proposer,
             (user_id % 15) % 3 AS config_version
      FROM ek WHERE bucket = 88 GROUP BY user_id % 15""",

    // governor_proposed_calls (dao.ts:331-340): flattened child rows, one
    // calldata word per row (the NUMERIC[] column rebuilt/exploded by the
    // S9 query); every bucket-88 event beyond the proposal's first becomes
    // a call of its proposal.
    "governor_proposed_calls" -> s"""
      SELECT id AS event_id,
             '0xprop' || CAST(user_id % 15 AS STRING) AS proposal_id,
             ROW_NUMBER() OVER (PARTITION BY user_id % 15 ORDER BY id) - 1 AS index,
             '0xtarget' || CAST(user_id % 5 AS STRING) AS to_address,
             '0xsel' || CAST(cents % 7 AS STRING) AS selector,
             CAST(cents AS DECIMAL(18,0)) AS calldata_word
      FROM ek WHERE bucket = 88""",

    // governor_executed_results (dao.ts:361-371): flattened results words.
    "governor_executed_results" -> s"""
      SELECT id AS event_id,
             '0xprop' || CAST(user_id % 15 AS STRING) AS proposal_id,
             ROW_NUMBER() OVER (PARTITION BY user_id % 15 ORDER BY id) - 1 AS index,
             CAST(cents * 5 AS DECIMAL(18,0)) AS result_word
      FROM ek WHERE bucket = 92 AND user_id % 2 = 1""",

    // embeddings_aug: near-dup input = the corpus plus two copies of vector 0
    // under fresh ids. The driver corpus has no cosine ≥ 0.99 pair at any sf,
    // so sim_embedding_near_dup's threshold branch never fired (rounds 1-3);
    // the duplicates make it return a deterministic positive answer — pairs
    // (0, max+1), (0, max+2), (max+1, max+2) at cosine 1.0 — on both engines
    // (dialect-common SQL, same rows everywhere). Synthetic ids derive from
    // MAX(vec_id) so they can never collide with real ids at any sf.
    "embeddings_aug" -> s"""
      SELECT vec_id, embedding FROM embeddings
      UNION ALL SELECT (SELECT MAX(vec_id) + 1 FROM embeddings) AS vec_id, embedding FROM embeddings WHERE vec_id = 0
      UNION ALL SELECT (SELECT MAX(vec_id) + 2 FROM embeddings) AS vec_id, embedding FROM embeddings WHERE vec_id = 0""",

    // media_aug: duplicate-blob input for the perceptual-hash dedup — the
    // same construction as embeddings_aug. The small-sf corpora have NO
    // duplicate documents (sf0.1 has a handful of organic ones), so the
    // two seeded byte-identical copies of doc 0 under fresh ids derived
    // from MAX(doc_id) guarantee a deterministic positive at EVERY sf.
    "media_aug" -> s"""
      SELECT doc_id, text FROM documents
      UNION ALL SELECT (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id, text FROM documents WHERE doc_id = 0
      UNION ALL SELECT (SELECT MAX(doc_id) + 2 FROM documents) AS doc_id, text FROM documents WHERE doc_id = 0""",

    // documents_pii: PII-redaction input = the corpus with deterministic
    // synthetic PII appended to a subset of documents (the driver corpus has
    // no digits or @-signs, so a redaction operator over raw `documents`
    // would never fire — same situation embeddings_aug solves for near-dup).
    // doc_id % 5: 0 → email+phone, 2 → email only, 4 → phone only, else
    // clean. Phone suffix is always 4 digits (1000 + doc_id % 9000).
    "documents_pii" -> s"""
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' contact user' || CAST(doc_id AS STRING) || '@example.com or 555-' || CAST(1000 + doc_id % 9000 AS STRING)
                  WHEN doc_id % 5 = 2 THEN text || ' mail admin' || CAST(doc_id AS STRING) || '@corp.example.org now'
                  WHEN doc_id % 5 = 4 THEN text || ' call 555-' || CAST(1000 + doc_id % 9000 AS STRING) || ' anytime'
                  ELSE text END AS text
      FROM documents""")

  /** Names of the derived fixture views (excludes driver base tables). */
  val factTables: Seq[String] = defs.map(_._1)

  /** Derived tables worth keeping hot: every fact view reads `ek`, and the
    * dimension joins read blocks/pool_keys. (Lazy cache: first use pays.) */
  private val cachedViews = Seq("ek", "blocks", "pool_keys")

  private val registeredFor =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register base tables + fixture views as Spark temp views. Idempotent
    * and memoized per (session, sfDir): every `queries` entry calls this, so
    * re-registration (10 parquet schema reads + uncaching) must be free. */
  def register(spark: SparkSession, sfDir: String): Unit = {
    if (sfDir == registeredFor.get(spark)) return
    // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
    // default; we never consume `ts` (fixtures derive time from event_id),
    // so reading nanos as plain longs is safe.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (registeredFor.containsKey(spark)) {
      cachedViews.foreach(v => spark.sql(s"UNCACHE TABLE IF EXISTS $v"))
      // the memoized sub-plans are derived from the previous sfDir's data:
      // stale AND a storage leak once the session points elsewhere
      graft.util.Memo.release(spark, registeredFor.get(spark))
    }
    baseTables.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    defs.foreach { case (name, sql) =>
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name AS $sql")
      // The driver's testdata is one single-row-group parquet file per
      // table, which cannot split: without an explicit fan-out the
      // fact-sized `ek` cache inherits the scan's single partition and
      // EVERY downstream view runs its cache scan on one core. The shuffle
      // happens once, at cache build (replaced here, before any downstream
      // view resolves `ek`); a production events table is many
      // files/row-groups and gets this parallelism at the scan.
      // blocks/pool_keys stay as declared — they are dimension-sized and
      // aggregate through a shuffle already.
      if (name == "ek")
        spark.table("ek").repartition(spark.sparkContext.defaultParallelism)
          .createOrReplaceTempView("ek")
    }
    cachedViews.foreach(v => spark.sql(s"CACHE LAZY TABLE $v"))
    registeredFor.put(spark, sfDir)
  }

  private val metricLoggerFor =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Log `observe()`-attached metrics (names prefixed `graft_`) to stderr
    * when the observed query actually executes. Passive: no extra Spark job,
    * nothing cached. Registered once per session. */
  def ensureMetricLogger(spark: SparkSession): Unit =
    if (metricLoggerFor.add(spark)) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft_")) System.err.println(s"[graft] $name: $row")
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })
    }

  /** DuckDB oracle prelude: all fixture defs as a WITH chain. Unused CTEs are
    * pruned by the optimizer, so every oracle can just prepend this. */
  lazy val oraclePrelude: String =
    defs.map { case (n, s) => s"$n AS ($s)" }.mkString("WITH ", ",\n", "\n")

  /** Wrap an oracle query body with the fixture prelude. */
  def oracle(body: String): String = oraclePrelude + body
}
