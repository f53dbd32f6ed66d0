package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Scale-pattern operators: skew-resistant aggregation and sessionization.
  *
  * These exist because at 100 TB two things break naive plans: hot keys
  * (one reducer drowns) and per-key state (cross-row logic the built-in
  * aggregates can't express). The salted aggregate shards hot keys across
  * reducers and recombines; sessionization is shown twice — the
  * window-function form (batch, oracle-checkable) and the
  * `flatMapGroupsWithState` form (the Structured-Streaming-native state
  * machine, identical output on batch input).
  */
object ScaleOps {

  /** q114 — dense global enumeration: assign every document a
    * contiguous 0-based id in doc_id order — the training-shard row id
    * / example index a writer stamps on output. The naive form
    * (`row_number() OVER (ORDER BY ...)`) collapses to a single
    * partition; this is the scalable two-pass pattern instead:
    * range-partition by the sort key, count rows per partition, turn
    * the counts into per-partition starting offsets (a driver-side
    * cumulative sum over #partitions scalars), and add a
    * partition-local rank. Every row is touched exactly twice and the
    * only full exchange is the range partition the output contract
    * needs anyway — the distributed zipWithIndex, in pure DataFrame
    * ops.
    *
    * RangePartitioner guarantees partition i's keys all precede
    * partition i+1's, so offset(pid) + local rank is globally dense
    * and ordered.
    *
    * Two scale details are load-bearing: the partition count is pinned
    * explicitly (AQE cannot coalesce an explicit-count range exchange,
    * so a recompute after cache eviction reproduces the identical
    * pid → rows assignment the offsets were collected from), and the
    * offsets reach the rows via a broadcast hash join on a
    * #partitions-row frame — a when-chain with one branch per partition
    * would exceed codegen method limits at the ~10⁵ range partitions a
    * 100 TB input produces, while the join keeps the plan constant-size
    * in partition count. */
  def globalEnumeration(s: SparkSession, dir: String): DataFrame =
    withGlobalRank(EtlOps.t(s, dir, "documents")
        .select(col("doc_id"), col("source")), "global_rank", col("doc_id"))
      .withColumn("global_id", col("global_rank") - 1L)
      .select(col("doc_id"), col("source"), col("global_id"))
      .orderBy("doc_id")

  /** The q114 two-pass global rank as a reusable primitive: 1-based
    * dense `row_number() OVER (ORDER BY sortCols)` semantics WITHOUT
    * the single-partition window — the exclusive [[withGlobalPrefixSum]]
    * of a column of ones, plus 1. Shared by q114, q42's exact
    * percentiles, q249's conformal order statistic and q261's decile
    * grid, so every exact global order statistic in the suite runs
    * through the ONE plan shape that survives 100 TB. Ties in sortCols
    * get an arbitrary stable rank within their equal range
    * (RangePartitioner keeps equal keys in one partition), so rank-k
    * VALUE lookups — every use here — are deterministic. */
  private[graft] def withGlobalRank(df: DataFrame, rankCol: String,
      sortCols: Column*): DataFrame =
    withGlobalPrefixSum(df.withColumn("__one", lit(1L)), "__one", rankCol,
        sortCols: _*)
      .withColumn(rankCol, col(rankCol) + 1L)
      .drop("__one")

  /** Exact EXCLUSIVE global prefix sum of `sumCol` under the
    * `sortCols` total order: range partition on the sort key (pinned
    * partition count), per-partition exclusive running sum,
    * per-partition totals collected once (#partitions scalars, the
    * documented metadata-size collect) and offset-joined back via
    * broadcast. The scale-safe replacement for
    * `sum().over(Window.orderBy(...))`, whose single-task sort is the
    * 100×-scale hazard on any corpus-scaled frame (q330's |vocab|-row
    * alias table). `sortCols` must be a total order (unique key) for a
    * deterministic result. */
  private[graft] def withGlobalPrefixSum(df: DataFrame, sumCol: String,
      outCol: String, sortCols: Column*): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val nParts = s.sessionState.conf.numShufflePartitions
    val parted = df.repartitionByRange(nParts, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    // #partitions rows — the one driver-side scalar pass
    val sums = parted.groupBy("__pid")
      .agg(coalesce(sum(col(sumCol)), lit(0L)).as("__s")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = sums.map(_._1)
      .zip(sums.map(_._2).scanLeft(0L)(_ + _).init)
    val offDf = broadcast(offsets.toSeq.toDF("__pid", "__pid_soff"))
    val localCum = coalesce(
      sum(col(sumCol)).over(Window.partitionBy("__pid")
        .orderBy(sortCols: _*)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    parted
      .withColumn("__local", localCum)
      .join(offDf, "__pid")
      .withColumn(outCol, col("__pid_soff") + col("__local"))
      .drop("__pid", "__pid_soff", "__local")
  }

  import EtlOps.t

  val SaltBuckets = 16

  /** q38 — token frequencies via salted two-phase aggregation. A directly
    * skewed workload: the vocabulary is tiny, so a plain groupBy(token)
    * sends every occurrence of a hot token to one reducer. Phase 1
    * aggregates (token, salt) — hot keys spread over [[SaltBuckets]]
    * reducers; phase 2 recombines the per-salt partials. Result is
    * identical to the naive plan (the oracle is the naive plan). */
  def saltedTokenCounts(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .withColumn("salt", pmod(col("doc_id"), lit(SaltBuckets)))
    val phase1 = toks.groupBy("token", "salt")
      .agg(count(lit(1)).as("partial"))
    phase1.groupBy("token")
      .agg(sum(col("partial")).as("n"))
      .orderBy("token")
  }

  val SessionGapMinutes = 30

  /** q39 — sessionization, window-function form: a session breaks when
    * the gap to the previous event exceeds [[SessionGapMinutes]].
    * lag → gap flag → running sum = session index; then one aggregate
    * per (user, session). Two narrow window passes over ts-sorted
    * partitions — partition-parallel by user at any scale. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val flagged = t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            SessionGapMinutes * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).cast("string").as("session_start"),
        max(col("ts")).cast("string").as("session_end"))
      .orderBy("user_id", "session_idx")
  }

  // --- q367: native session_window form -----------------------------------

  /** q367 — sessionization through Spark's NATIVE `session_window`
    * grouping (the built-in merging-session-window operator), rolled up
    * to a per-user session census. Same task as q39, different engine
    * path: q39 is two window passes (lag → running sum), THIS is one
    * aggregation whose grouping key is the dynamic merged window —
    * Spark's own state-merge machinery, the form that also runs
    * unchanged under Structured Streaming with a watermark. Boundary
    * semantics: an event arriving EXACTLY gap-after still merges
    * (Spark's merge test is inclusive of the window end) — identical
    * to q39's strict-> break rule; the spec pins this on a constructed
    * two-event exact-gap case (it returns ONE session) and checks
    * per-user agreement with q39 across the fixture.
    *
    * Parity: the oracle replays the q39 CTE chain (strict-> break) —
    * counts are exact integers; no floats at all.
    *
    * Scale (100 TB): ONE user-keyed exchange; the session merge is
    * per-group state inside the aggregate (no second window pass, no
    * lag materialization). */
  def sessionWindowNative(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events"),
        max("n_events").as("max_session_events"))
      .orderBy("user_id")

  def sessionWindowNativeOracle: String =
    s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
       |           FROM events),
       |f AS (SELECT user_id, event_id, ts,
       |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |          AS prev_ts FROM e),
       |g AS (SELECT *, CASE WHEN prev_ts IS NULL
       |        OR epoch_us(ts) - epoch_us(prev_ts)
       |          > ${SessionGapMinutes * 60L * 1000000L}
       |        THEN 1 ELSE 0 END AS new_session FROM f),
       |h AS (SELECT *, CAST(sum(new_session) OVER (
       |        PARTITION BY user_id ORDER BY ts, event_id
       |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
       |      FROM g),
       |sess AS (SELECT user_id, session_idx, count(*) AS n_events
       |  FROM h GROUP BY user_id, session_idx)
       |SELECT user_id, count(*) AS n_sessions,
       |  CAST(sum(n_events) AS BIGINT) AS n_events,
       |  max(n_events) AS max_session_events
       |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- q369: streaming state-store sizing under a TTL grid ------------------

  /** State TTLs priced by the sizing audit, in hours. */
  val StateTtlHours: Seq[Long] = Seq(1L, 6L, 24L)

  /** q369 — state-store sizing: how many per-user state entries a
    * streaming job holds at each hourly checkpoint, under each
    * candidate state TTL — the capacity-planning companion to q367's
    * sessionizer and [[MarkerTtlHours]]'s design note ("state stays
    * bounded by users ACTIVE within the horizon"): THIS measures that
    * bound on real activity. A user occupies state at checkpoint h iff
    * they had an event in (h − ttl, h]; the per-TTL max is the number
    * that sizes executor memory, the mean is the steady-state bill.
    *
    * Shape: events collapse to distinct (user, hour) presence ONCE;
    * each presence row then covers exactly ttl checkpoints — an
    * explode(sequence(...)) of bounded width, so the expansion is
    * events×ttl-linear, never checkpoint×user-quadratic.
    *
    * Parity: hour buckets are integer division of epoch micros; all
    * counts exact; the one mean division is pinned.
    *
    * Scale (100 TB): one distinct-collapse exchange, a ≤24-wide
    * in-row explode, one (ttl, checkpoint) aggregate. */
  def stateSizing(s: SparkSession, dir: String): DataFrame = {
    val uh = t(s, dir, "events")
      .selectExpr("user_id", "unix_micros(ts) div 3600000000 AS h")
      .distinct().persist()
    val maxH = broadcast(uh.agg(max("h").as("max_h")))
    val grid = broadcast(s.createDataFrame(
      StateTtlHours.map(Tuple1(_))).toDF("ttl_hours"))
    uh.crossJoin(grid)
      .selectExpr("ttl_hours", "user_id",
        "explode(sequence(h, h + ttl_hours - 1)) AS cp")
      .crossJoin(maxH).filter(col("cp") <= col("max_h"))
      .select("ttl_hours", "user_id", "cp").distinct()
      .groupBy("ttl_hours", "cp").agg(count(lit(1)).as("state"))
      .groupBy("ttl_hours")
      .agg(count(lit(1)).as("n_checkpoints"),
        max("state").as("max_state"), sum("state").as("ssum"))
      .selectExpr("ttl_hours", "n_checkpoints", "max_state",
        "round(CAST(ssum AS DOUBLE) / CAST(n_checkpoints AS DOUBLE), 4)" +
          " AS mean_state")
      .orderBy("ttl_hours")
  }

  def stateSizingOracle: String = {
    val grid = StateTtlHours.map(t => s"($t)").mkString(", ")
    s"""WITH uh AS (SELECT DISTINCT user_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h
       |  FROM events),
       |mh AS (SELECT max(h) AS max_h FROM uh),
       |ex AS (SELECT DISTINCT g.ttl_hours, u.user_id, c.cp
       |  FROM uh u, (SELECT unnest(ARRAY[$grid]) AS ttl_hours) g,
       |    LATERAL (SELECT unnest(range(u.h, u.h + g.ttl_hours))
       |      AS cp) c, mh
       |  WHERE c.cp <= mh.max_h),
       |st AS (SELECT ttl_hours, cp, count(*) AS state FROM ex
       |  GROUP BY ttl_hours, cp)
       |SELECT CAST(ttl_hours AS BIGINT) AS ttl_hours,
       |  count(*) AS n_checkpoints,
       |  max(state) AS max_state,
       |  round(CAST(CAST(sum(state) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 4) AS mean_state
       |FROM st GROUP BY ttl_hours ORDER BY ttl_hours""".stripMargin
  }

  // --- stateful form ----------------------------------------------------

  final case class Ev(event_id: Long, user_id: Long, tsMicros: Long)
  final case class SessionOut(user_id: Long, session_idx: Long,
      n_events: Long, session_start: Long, session_end: Long)
  final case class SessState(sessionIdx: Long, nEvents: Long,
      startMicros: Long, lastMicros: Long)

  final case class EvT(event_id: Long, user_id: Long,
      ts: java.sql.Timestamp)

  /** How long a closed-session numbering marker outlives its session
    * (watermark time). Within this horizon a returning user continues
    * session numbering monotonically; a user idle longer restarts at 1,
    * so state stays bounded by users ACTIVE within the horizon instead
    * of growing with all-time distinct-user cardinality. */
  val MarkerTtlHours = 24L

  /** The streaming-NATIVE sessionizer: unlike [[sessionizeStateful]]
    * (which flushes open sessions when a batch group's iterator ends),
    * this keeps the open session in [[GroupState]] across micro-batches
    * and closes it via EVENT-TIME TIMEOUT — the session ends only when
    * the watermark passes last_event + gap, exactly the semantics a
    * 24/7 deployment needs (sessions spanning micro-batches never
    * split). Caller supplies a watermarked streaming Dataset[EvT].
    *
    * State lifecycle: open session → closed-session numbering marker
    * (nEvents == 0, holds the NEXT session index) → removed when the
    * marker's own [[MarkerTtlHours]] timeout fires. The TTL bounds state
    * for a 24/7 deployment; the trade-off is that a user returning after
    * the TTL restarts numbering at session 1, so downstream keys needing
    * all-time uniqueness should use (user_id, session_start), which is
    * unique regardless. */
  def sessionizeStreaming(evs: Dataset[EvT]): Dataset[SessionOut] = {
    import evs.sparkSession.implicits._
    val gapMicros = SessionGapMinutes * 60L * 1000000L
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[EvT], state: GroupState[SessState]) =>
          if (events.isEmpty && state.hasTimedOut && state.get.nEvents == 0L) {
            // the numbering marker's TTL expired: drop it. This is the
            // state-eviction path that keeps the keyspace bounded.
            state.remove()
            Iterator.empty
          } else if (events.isEmpty && state.hasTimedOut) {
            // watermark passed last_event + gap: the session is closed.
            // Keep a no-open-session marker (nEvents == 0) carrying the
            // NEXT session index so numbering continues monotonically —
            // immediate state.remove() would restart a later session at 1
            // and duplicate the (user, session_idx) key downstream. The
            // marker itself times out after MarkerTtlHours (branch above).
            val s0 = state.get
            state.update(SessState(s0.sessionIdx + 1, 0L, 0L, 0L))
            state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs() + MarkerTtlHours * 3600L * 1000L)
            Iterator.single(SessionOut(user, s0.sessionIdx, s0.nEvents,
              s0.startMicros, s0.lastMicros))
          } else {
            val sorted = events.toSeq
              .sortBy(e => (micros(e.ts), e.event_id))
            val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
            var st = state.getOption.orNull
            sorted.foreach { e =>
              val t = micros(e.ts)
              st match {
                case null =>
                  st = SessState(1L, 1L, t, t)
                case s0 if s0.nEvents == 0L => // marker: open session #idx
                  st = SessState(s0.sessionIdx, 1L, t, t)
                case s0 if t - s0.lastMicros > gapMicros =>
                  out += SessionOut(user, s0.sessionIdx, s0.nEvents,
                    s0.startMicros, s0.lastMicros)
                  st = SessState(s0.sessionIdx + 1, 1L, t, t)
                case s0 =>
                  st = s0.copy(nEvents = s0.nEvents + 1, lastMicros = t)
              }
            }
            if (st != null && st.nEvents > 0) {
              state.update(st)
              // close when the watermark passes the gap after the last
              // event seen so far. flatMapGroupsWithState does NOT drop
              // late rows, so a very late event can put lastMicros + gap
              // at or below the current watermark — Spark rejects such a
              // timestamp, so clamp just past the watermark (the session
              // then closes at the next trigger).
              state.setTimeoutTimestamp(math.max(
                (st.lastMicros + gapMicros) / 1000L,
                state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  /** The same session semantics as a `flatMapGroupsWithState` state
    * machine — the shape a streaming deployment uses (per-key mutable
    * state, incremental emission). On batch input each group's full
    * iterator arrives at once, so output ≡ [[sessionize]]. */
  def sessionizeStateful(s: SparkSession, dir: String): Dataset[SessionOut] = {
    import s.implicits._
    val gapMicros = SessionGapMinutes * 60L * 1000000L
    val evs = EtlOps.events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsMicros"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[Ev], state: GroupState[SessState]) =>
          val sorted = events.toSeq.sortBy(e => (e.tsMicros, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
          var st = state.getOption.orNull
          sorted.foreach { e =>
            st match {
              case null =>
                st = SessState(1L, 1L, e.tsMicros, e.tsMicros)
              case s0 if e.tsMicros - s0.lastMicros > gapMicros =>
                out += SessionOut(user, s0.sessionIdx, s0.nEvents,
                  s0.startMicros, s0.lastMicros)
                st = SessState(s0.sessionIdx + 1, 1L, e.tsMicros, e.tsMicros)
              case s0 =>
                st = s0.copy(nEvents = s0.nEvents + 1, lastMicros = e.tsMicros)
            }
          }
          // batch execution: the group is complete — flush the open session
          if (st != null) {
            out += SessionOut(user, st.sessionIdx, st.nEvents,
              st.startMicros, st.lastMicros)
            state.remove()
          }
          out.iterator
      }
  }

  // --- Z-order data layout ----------------------------------------------

  /** Bits interleaved per dimension by [[mortonExpr]]. 8 bits cover both
    * clustered dimensions here (p_size ≤ 50, price bucket < 256). */
  val MortonBits = 8

  /** Z-cell width: [[zorderLayout]] groups rows by `z >> ZCellShift`,
    * i.e. 64-key Morton cells ≈ one file/row-group worth of locality. */
  val ZCellShift = 6

  /** Morton (Z-order) interleave of two [[MortonBits]]-bit integer
    * expressions — bit b of x lands at position 2b, of y at 2b+1. Pure
    * integer shifts/masks/adds generated for BOTH dialects from one
    * place, so the oracle cannot drift. Spark spells shift as
    * `shiftright`, DuckDB as `>>`; the set-bit contribution is `* 2^k`
    * (disjoint bits, so + ≡ |). */
  def mortonExpr(x: String, y: String, spark: Boolean): String = {
    def shr(c: String, b: Int): String =
      if (spark) s"shiftright($c, $b)" else s"($c >> $b)"
    (0 until MortonBits).flatMap { b =>
      Seq(s"(${shr(x, b)} & 1) * ${1L << (2 * b)}",
        s"(${shr(y, b)} & 1) * ${1L << (2 * b + 1)}")
    }.mkString(" + ")
  }

  /** q74 — Z-order layout audit: cluster parts by the Morton interleave
    * of (size, price bucket) and report per-cell min/max of BOTH
    * dimensions. This is the data-layout primitive behind multi-column
    * file skipping: sorting 100 TB by z and cutting files at cell
    * boundaries bounds every file's range in EVERY interleaved dimension
    * (which a lexicographic sort only does for the leading column), so
    * min/max footer stats prune scans for predicates on either
    * dimension. The narrow per-cell ranges in the output ARE the
    * skipping guarantee. */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val shiftCell =
      s"shiftright(zval, $ZCellShift)"
    t(s, dir, "part")
      .selectExpr("p_partkey", "CAST(p_size AS BIGINT) AS x",
        "CAST(floor(p_retailprice) AS BIGINT) % 256 AS y")
      .selectExpr("p_partkey", "x", "y",
        s"(${mortonExpr("x", "y", spark = true)}) AS zval")
      .selectExpr("p_partkey", "x", "y", s"CAST($shiftCell AS BIGINT) AS zcell")
      .groupBy("zcell")
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_size"), max(col("x")).as("max_size"),
        min(col("y")).as("min_pricebucket"), max(col("y")).as("max_pricebucket"))
      .orderBy("zcell")
  }

  /** The DuckDB oracle for q74 — same generated Morton expression. */
  def zorderOracle: String =
    s"""WITH b AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS x,
       |    CAST(floor(p_retailprice) AS BIGINT) % 256 AS y FROM part),
       |z AS (SELECT p_partkey, x, y,
       |    (${mortonExpr("x", "y", spark = false)}) AS zval FROM b)
       |SELECT (zval >> $ZCellShift) AS zcell, count(*) AS n_rows,
       |  min(x) AS min_size, max(x) AS max_size,
       |  min(y) AS min_pricebucket, max(y) AS max_pricebucket
       |FROM z GROUP BY zcell ORDER BY zcell""".stripMargin

  // --- q91: snapshot digest reconciliation ------------------------------

  /** Digest bucket count and the synthetic drift modulus (rows whose
    * order key divides by it differ between the two snapshots). */
  val DigestBuckets = 256
  val DriftMod = 97

  /** q91 — Merkle-style snapshot reconciliation: two copies of a table
    * reduce to [[DigestBuckets]] (count, XOR-of-row-hash) digests,
    * compared bucket-by-bucket. XOR is commutative/associative, so each
    * digest is one map-side-combinable aggregate with NO row order
    * sensitivity — two 100 TB replicas compare by exchanging a
    * constant-size digest table, and only mismatching buckets need a
    * row-level diff. The synthetic second snapshot perturbs quantities
    * on keys ≡ 0 mod [[DriftMod]], so expected mismatches are known.
    *
    * Parity: the row hash is the shared 60-bit md5 fingerprint over a
    * canonical string of the key + integral quantity; bit_xor(BIGINT)
    * is exact on both engines. */
  def snapshotDigest(s: SparkSession, dir: String): DataFrame = {
    def digest(drift: Boolean): DataFrame = {
      val qty =
        if (drift)
          expr(s"CAST(floor(l_quantity) AS BIGINT) + " +
            s"CASE WHEN l_orderkey % $DriftMod = 0 THEN 1 ELSE 0 END")
        else expr("CAST(floor(l_quantity) AS BIGINT)")
      EtlOps.t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), qty.as("qty"))
        .withColumn("rh", TextOps.md5Fingerprint60(
          concat_ws("|", col("l_orderkey"), col("l_linenumber"), col("qty"))))
        .withColumn("bucket", TextOps.md5Fingerprint60(
          concat_ws("|", col("l_orderkey"), col("l_linenumber")))
          % DigestBuckets)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), expr("bit_xor(rh)").as("dg"))
    }
    val a = digest(drift = false)
      .select(col("bucket"), col("n").as("n_a"), col("dg").as("dg_a"))
    val b = digest(drift = true)
      .select(col("bucket"), col("n").as("n_b"), col("dg").as("dg_b"))
    a.join(b, Seq("bucket"), "full_outer")
      .select(col("bucket"), col("n_a"), col("n_b"),
        (col("n_a") === col("n_b") && col("dg_a") === col("dg_b"))
          .as("bucket_match"))
      .orderBy("bucket")
  }

  /** q91 oracle — the same digest comparison, CTE per snapshot. */
  def snapshotDigestOracle: String = {
    def fp(x: String) = s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"
    def snap(alias: String, drift: Boolean): String = {
      val qty =
        if (drift)
          s"CAST(floor(l_quantity) AS BIGINT) + CASE WHEN l_orderkey % $DriftMod = 0 THEN 1 ELSE 0 END"
        else "CAST(floor(l_quantity) AS BIGINT)"
      s"""$alias AS (SELECT
         |    ${fp(s"concat_ws('|', l_orderkey, l_linenumber)")} % $DigestBuckets AS bucket,
         |    count(*) AS n,
         |    bit_xor(${fp(s"concat_ws('|', l_orderkey, l_linenumber, $qty)")}) AS dg
         |  FROM lineitem GROUP BY 1)""".stripMargin
    }
    s"""WITH ${snap("a", drift = false)},
       |${snap("b", drift = true)}
       |SELECT coalesce(a.bucket, b.bucket) AS bucket,
       |  a.n AS n_a, b.n AS n_b,
       |  (a.n = b.n AND a.dg = b.dg) AS bucket_match
       |FROM a FULL JOIN b ON a.bucket = b.bucket
       |ORDER BY bucket""".stripMargin
  }

  // --- q97: digest drill-down (row-level repair plan) -------------------

  /** q97 — the second phase of q91's reconciliation: recompute row
    * hashes ONLY inside the digest-mismatched buckets and emit the
    * row-level diff (key, both quantities). This is the efficiency
    * contract of Merkle reconciliation made explicit: the row-level
    * pass semi-joins the fact table against the (tiny, broadcast)
    * mismatched-bucket list, so a 100 TB replica pair repairs by
    * scanning only drifted buckets' rows — the scan is pruned by the
    * digest, never by a full-table compare.
    *
    * Both snapshots derive from one cached scan; the final diff is a
    * key-equi join inside the pruned row set. The oracle re-states the
    * whole two-phase flow in SQL, so the gate checks digest logic AND
    * drill-down agree end to end. */
  def digestDrilldown(s: SparkSession, dir: String): DataFrame = {
    // base feeds both snapshots and the bucket computation once
    val base = EtlOps.t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        col("l_linenumber").cast("bigint").as("l_linenumber"),
        expr("CAST(floor(l_quantity) AS BIGINT)").as("qty_a"))
      .withColumn("qty_b",
        col("qty_a") +
          when(col("l_orderkey") % DriftMod === 0, 1L).otherwise(0L))
      .withColumn("bucket", TextOps.md5Fingerprint60(
        concat_ws("|", col("l_orderkey"), col("l_linenumber")))
        % DigestBuckets)
      // single-row-group parquet reads as ONE split, so without this the
      // whole md5 map phase runs on one core; the round-robin exchange
      // piggybacks on the cache materialization that touches every row
      // anyway, and both downstream passes (digest + drill-down) then
      // run at full width
      .repartition(s.sessionState.conf.numShufflePartitions)
      .persist()
    // both snapshots digest in ONE aggregate pass (two bit_xor columns
    // of the same groupBy) — the two-digest formulation paid a second
    // scan, a second bucket shuffle, and a digest-digest join for the
    // same 4096-row comparison
    def rh(qty: String) = TextOps.md5Fingerprint60(
      concat_ws("|", col("l_orderkey"), col("l_linenumber"), col(qty)))
    val bad = base
      .withColumn("rh_a", rh("qty_a")).withColumn("rh_b", rh("qty_b"))
      .groupBy("bucket")
      .agg(expr("bit_xor(rh_a)").as("dga"), expr("bit_xor(rh_b)").as("dgb"))
      .filter(col("dga") =!= col("dgb"))
      .select(col("bucket"))
      // bucket = hash % DigestBuckets: the aggregate emits at most
      // DigestBuckets rows; limit() makes the grid bound structural
      .limit(DigestBuckets.toInt)
    base.join(broadcast(bad), "bucket")
      .filter(col("qty_a") =!= col("qty_b"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("qty_a"), col("qty_b"), col("bucket"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** q97 oracle — two-phase reconciliation as one SQL statement. */
  def digestDrilldownOracle: String = {
    def fp(x: String) = s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"
    s"""WITH base AS (SELECT l_orderkey, l_linenumber,
       |    CAST(floor(l_quantity) AS BIGINT) AS qty_a,
       |    CAST(floor(l_quantity) AS BIGINT) +
       |      CASE WHEN l_orderkey % $DriftMod = 0 THEN 1 ELSE 0 END AS qty_b,
       |    ${fp("concat_ws('|', l_orderkey, l_linenumber)")} % $DigestBuckets
       |      AS bucket
       |  FROM lineitem),
       |da AS (SELECT bucket,
       |    bit_xor(${fp("concat_ws('|', l_orderkey, l_linenumber, qty_a)")})
       |      AS dga FROM base GROUP BY bucket),
       |db AS (SELECT bucket,
       |    bit_xor(${fp("concat_ws('|', l_orderkey, l_linenumber, qty_b)")})
       |      AS dgb FROM base GROUP BY bucket),
       |bad AS (SELECT da.bucket FROM da JOIN db USING (bucket)
       |  WHERE da.dga <> db.dgb)
       |SELECT b.l_orderkey, b.l_linenumber, b.qty_a, b.qty_b, b.bucket
       |FROM base b JOIN bad USING (bucket)
       |WHERE b.qty_a <> b.qty_b
       |ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  // --- q179: incremental stats maintenance (snapshot algebra) -----------

  /** q179 — incremental corpus-stats maintenance: yesterday's corpus
    * (doc_id ≢ 0 mod 5) already has per-source stat PARTIALS (count,
    * sums, min/max); today's delta (doc_id ≡ 0 mod 5) is scanned alone
    * and its partials MERGED — no full rescan. The op emits the merged
    * T+1 stats next to a from-scratch recompute with a per-source
    * consistency boolean, proving the partials algebra (count/sum add,
    * min/max combine) is exact. This is the reference's
    * marker-incremental model (`PollForNewFiles.py` — only new files
    * move) lifted from ingestion to statistics: the nightly 100 TB
    * profile costs one DELTA scan, not a corpus scan.
    *
    * Parity: all-integer partials; the only double is the final mean
    * division (identical op both engines).
    *
    * Scale (100 TB): the full recompute exists here ONLY as the audit;
    * production keeps the |sources|-row partial table and pays
    * O(delta) per night. Both paths are map-combinable aggregates. */
  def incrementalStats(s: SparkSession, dir: String): DataFrame = {
    val docs = EtlOps.t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextOps.wsTokenCount(col("text")).as("toks"))
    // one scan builds the per-(source, snapshot) partial table — the
    // thing a production pipeline PERSISTS; the merge re-shuffles only
    // the 2·|sources| partial rows, never the corpus
    val p = docs.withColumn("is_delta", col("doc_id") % 5 === 0)
      .groupBy("source", "is_delta")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("c"),
        sum(col("toks")).as("tk"), min(col("n_chars")).as("mn"),
        max(col("n_chars")).as("mx"))
    val merged = p.groupBy("source")
      .agg(sum(col("n")).as("n_docs"), sum(col("c")).as("total_chars"),
        sum(col("tk")).as("total_tokens"), min(col("mn")).as("min_chars"),
        max(col("mx")).as("max_chars"))
    // the audit's full recompute is an INDEPENDENT scan on purpose —
    // deriving it from the same partials would prove nothing
    val full = docs.groupBy("source")
      .agg(count(lit(1)).as("f_n"), sum(col("n_chars")).as("f_c"),
        sum(col("toks")).as("f_tk"), min(col("n_chars")).as("f_mn"),
        max(col("n_chars")).as("f_mx"))
    merged.join(full, "source")
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("total_tokens"), col("min_chars"), col("max_chars"),
        round(col("total_chars").cast("double") /
          col("n_docs").cast("double"), 6).as("mean_chars"),
        (col("n_docs") === col("f_n") && col("total_chars") === col("f_c") &&
          col("total_tokens") === col("f_tk") &&
          col("min_chars") === col("f_mn") && col("max_chars") === col("f_mx"))
          .as("incremental_consistent"))
      .orderBy("source")
  }

  def incrementalStatsOracle: String =
    s"""WITH d AS (SELECT doc_id, source, n_chars,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS toks
       |  FROM documents),
       |p AS (SELECT source, doc_id % 5 = 0 AS is_delta, count(*) AS n,
       |    CAST(sum(n_chars) AS BIGINT) AS c, CAST(sum(toks) AS BIGINT)
       |      AS tk, min(n_chars) AS mn, max(n_chars) AS mx
       |  FROM d GROUP BY source, doc_id % 5 = 0),
       |m AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       |    CAST(sum(c) AS BIGINT) AS total_chars,
       |    CAST(sum(tk) AS BIGINT) AS total_tokens,
       |    min(mn) AS min_chars, max(mx) AS max_chars
       |  FROM p GROUP BY source),
       |f AS (SELECT source, count(*) AS f_n,
       |    CAST(sum(n_chars) AS BIGINT) AS f_c,
       |    CAST(sum(toks) AS BIGINT) AS f_tk,
       |    min(n_chars) AS f_mn, max(n_chars) AS f_mx
       |  FROM d GROUP BY source)
       |SELECT m.source, m.n_docs, m.total_chars, m.total_tokens,
       |  m.min_chars, m.max_chars,
       |  round(CAST(m.total_chars AS DOUBLE) / CAST(m.n_docs AS DOUBLE), 6)
       |    AS mean_chars,
       |  (m.n_docs = f.f_n AND m.total_chars = f.f_c AND
       |   m.total_tokens = f.f_tk AND m.min_chars = f.f_mn AND
       |   m.max_chars = f.f_mx) AS incremental_consistent
       |FROM m JOIN f USING (source) ORDER BY m.source""".stripMargin

  // --- q220: reshard-cost audit (mod vs consistent hashing) ---------------

  /** Shard counts before/after the resize, and ring vnodes per shard. */
  val ReshardFrom = 16
  val ReshardTo = 20
  val RingVnodes = 4

  /** q220 — reshard-cost audit: growing a [[ReshardFrom]]-shard layout
    * to [[ReshardTo]] shards moves data, and HOW MUCH depends entirely
    * on the shard function. This prices both standard choices on the
    * same key (q216's document fingerprint): `fp mod N` (which
    * reassigns almost every document — ~1 − 1/lcm share survives) vs a
    * consistent-hash ring with [[RingVnodes]] vnodes per shard (which
    * moves only the keyspace claimed by the new shards, ~(To−From)/To).
    * At 100 TB the difference is petabytes of rewrite I/O — the audit a
    * storage lead runs before committing to a shard key scheme.
    *
    * Parity: vnode positions and document fingerprints are md5_fp60
    * integers; ring ownership is the arg-min of an ENCODED integer key
    * (wrap flag ≪ 61 | vnode) — pure integer arithmetic both engines.
    *
    * Scale (100 TB): the ring audit joins each doc against the
    * broadcast vnode table (≤ To·[[RingVnodes]] rows) — an audit-scale
    * ×|vnodes| row blowup; the production assigner evaluates the same
    * ownership as a binary search over a sorted vnode array literal
    * inside one codegen'd expression (no join at all). Documented here
    * because the AUDIT favors the declarative form the oracle can
    * replay. */
  def reshardAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(
      call_function("md5_fp60",
        concat(lit("shard:"), col("doc_id").cast("string"))).as("fp"))
      .persist()
    def ringOwner(n: Int, tag: String): DataFrame = {
      val vnodes = s.range(n.toLong * RingVnodes)
        .selectExpr(s"CAST(id div $RingVnodes AS BIGINT) AS shard",
          s"id % $RingVnodes AS j")
        .selectExpr("shard",
          // vnode position must NOT depend on the ring size: shards
          // 0..From-1 keep their points when the ring grows, which is
          // the whole consistent-hashing contract (salting with N would
          // rebuild the ring and move ~everything, like mod)
          s"md5_fp60(concat('ring:', CAST(shard AS STRING), ':', " +
            "CAST(j AS STRING))) AS v")
      docs.crossJoin(broadcast(vnodes))
        // prefer the smallest vnode at-or-above fp; wrap to the global
        // smallest — one integer key encodes that order (fp < 2^60)
        .withColumn("key",
          when(col("v") >= col("fp"), col("v"))
            .otherwise(col("v") + lit(2305843009213693952L)))
        .groupBy("fp")
        .agg(min_by(col("shard"), col("key")).as(s"owner"))
        .withColumnRenamed("owner", tag)
    }
    val modMoved = docs
      .withColumn("moved",
        col("fp") % ReshardFrom =!= col("fp") % ReshardTo)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved"))
      .select(lit("mod").as("strategy"), col("n_docs"), col("n_moved"))
    val ringMoved = ringOwner(ReshardFrom, "own_a")
      .join(ringOwner(ReshardTo, "own_b"), "fp")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("own_a") =!= col("own_b"), 1L).otherwise(0L))
          .as("n_moved"))
      .select(lit("ring").as("strategy"), col("n_docs"), col("n_moved"))
    modMoved.unionAll(ringMoved)
      .withColumn("moved_frac", round(
        col("n_moved").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("strategy")
  }

  def reshardAuditOracle: String = {
    val wrap = 2305843009213693952L
    def ringCtes(n: Int, pfx: String): String =
      s"""vn$pfx AS (SELECT CAST(i // $RingVnodes AS BIGINT) AS shard,
         |    CAST('0x' || substr(md5('ring:' ||
         |      CAST(i // $RingVnodes AS VARCHAR) || ':' ||
         |      CAST(i % $RingVnodes AS VARCHAR)), 1, 15) AS BIGINT) AS v
         |  FROM (SELECT unnest(range(0, ${n.toLong * RingVnodes})) AS i)),
         |own$pfx AS (SELECT fp, arg_min(shard,
         |    CASE WHEN v >= fp THEN v ELSE v + $wrap END) AS own$pfx
         |  FROM d CROSS JOIN vn$pfx GROUP BY fp)""".stripMargin
    s"""WITH d AS (SELECT
       |    CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
       |      1, 15) AS BIGINT) AS fp
       |  FROM documents),
       |${ringCtes(ReshardFrom, "a")},
       |${ringCtes(ReshardTo, "b")},
       |m AS (SELECT 'mod' AS strategy, count(*) AS n_docs,
       |    CAST(sum(CASE WHEN fp % $ReshardFrom <> fp % $ReshardTo
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
       |  FROM d),
       |r AS (SELECT 'ring', count(*),
       |    CAST(sum(CASE WHEN owna <> ownb THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM owna JOIN ownb USING (fp)),
       |u AS (SELECT * FROM m UNION ALL SELECT * FROM r)
       |SELECT strategy, n_docs, n_moved,
       |  round(CAST(n_moved AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    AS moved_frac
       |FROM u ORDER BY strategy""".stripMargin
  }

  // --- q236: runtime bloom-filter join pruning ----------------------------

  /** Selectivity of the creation side: 1-in-50 customers' orders. */
  val RfCustMod = 50

  /** q236 — runtime bloom-filter join pruning: Spark's
    * InjectRuntimeFilter optimization, the 100 TB shuffle-reduction
    * lever this repo otherwise only simulates — when a join's build
    * side is selective, the optimizer builds a Bloom filter on the
    * build-side keys at RUNTIME and pushes `might_contain` into the
    * probe side's scan, so ~98% of lineitem rows here die BEFORE the
    * shuffle instead of after it. The query is a plain star join
    * (orders of 1-in-[[RfCustMod]] customers ⋈ lineitem → returnflag
    * rollup); the optimization is invisible in the RESULT (oracle is
    * the plain SQL) and visible in the PLAN (spec pins
    * `might_contain` + the pre-shuffle Filter) and in the bench A/B.
    *
    * The operator runs on a `newSession()` clone: runtime-filter
    * thresholds (application-side scan floor lowered from its 10 GB
    * default; broadcast disabled so the join actually shuffles — at
    * 100 TB the fact side shuffles regardless) must not leak into the
    * shared session used by every other query in the Verify run.
    *
    * Parity: counts are integers; the quantity sum goes through
    * DECIMAL(18,4) (order-free) and casts back. */
  def runtimeFilterJoin(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled",
      "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
      "applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val sel = EtlOps.t(s2, dir, "orders")
      .filter(col("o_custkey") % RfCustMod === 0)
      .select(col("o_orderkey"))
    EtlOps.t(s2, dir, "lineitem")
      .join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
          .as("sum_qty"))
      .orderBy("l_returnflag")
  }

  def runtimeFilterJoinOracle: String =
    s"""SELECT l_returnflag, count(*) AS n_items,
       |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
       |    AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty
       |FROM lineitem JOIN (SELECT o_orderkey FROM orders
       |  WHERE o_custkey % $RfCustMod = 0) o
       |  ON l_orderkey = o_orderkey
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --- q237: storage-encoding / sort-key layout advisor -------------------

  /** 1-in-EncSampleMod deterministic hash sample the advisor prices
    * encodings on (the single-ordered-pass stage runs on the sample,
    * never the corpus — how ANALYZE-COMPRESSION-style advisors work). */
  val EncSampleMod = 10L

  /** Audited columns: (name, byte width per value; 0 = string, width
    * from measured character mass). */
  val EncColumns: Seq[(String, Int)] = Seq(
    ("l_orderkey", 8), ("l_partkey", 8), ("l_suppkey", 8),
    ("l_quantity", 8), ("l_returnflag", 0), ("l_linestatus", 0))

  /** Candidate sort keys (each made TOTAL with the (orderkey,
    * linenumber) tiebreak so run counts are deterministic). `hash`
    * models an unclustered layout. */
  val EncSortKeys: Seq[(String, Seq[String])] = Seq(
    ("hash", Seq("skhash")),
    ("by_orderkey", Seq("l_orderkey")),
    ("by_partkey", Seq("l_partkey")),
    ("by_flag_status", Seq("l_returnflag", "l_linestatus")))

  /** q237 — storage-encoding / sort-key layout advisor: which sort key
    * should the 100 TB table be written with, and which encoding per
    * column? Layout is THE storage-cost lever (Parquet RLE/dict sizes
    * depend on run structure, which depends on sort order). For each
    * candidate order the advisor counts exact value RUNS per column on
    * a deterministic hash sample, then prices three encodings with an
    * exact-integer cost model — plain = value bytes; RLE =
    * runs·(avg_width + 4-byte run length); dict = dictionary bytes +
    * n·code bytes (1/2/4 by cardinality) — picks the cheapest per
    * column, and totals per sort key with a best-layout flag.
    * Complements q74's Z-order audit (data SKIPPING) with the storage
    * side of the same decision.
    *
    * Parity: the whole model is exact integer arithmetic (integer
    * division for the width rationals); run counting is a lag window
    * over the SAME total order on both engines.
    *
    * Scale (100 TB): the corpus-sized work is the sample filter (one
    * narrow scan, hash predicate pushed to the row level); the ordered
    * single-partition pass runs on the 1-in-[[EncSampleMod]] sample
    * only — the standard advisor shape (sampling is the point, not a
    * shortcut; exact global run counts would cost the very sort being
    * priced). */
  def encodingAdvisor(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem")
      .withColumn("skhash", call_function("md5_fp60",
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string"))))
      .filter(col("skhash") % EncSampleMod === 0)
      .select((EncColumns.map(c => col(c._1)) ++
        Seq(col("l_linenumber"), col("skhash"))): _*)
      .persist()
    // cardinalities, byte widths and n are sort-key-INDEPENDENT —
    // computed ONCE instead of per key (the per-key form re-ran six
    // countDistincts per key, each a row-multiplying Expand; measured
    // cost is unchanged at sf0.1 — the four ordered single-partition
    // run-count passes dominate, which is the advisor's honest price —
    // but the redundant Expand passes scale with the sample while the
    // hoisted form's don't)
    val statAggs = EncColumns.flatMap { case (c, width) =>
      val wTot =
        if (width > 0) count(lit(1)) * width
        else sum(length(col(c)).cast("bigint"))
      Seq(countDistinct(col(c)).as(s"d_$c"),
        wTot.cast("bigint").as(s"w_$c"))
    } :+ count(lit(1)).as("n")
    val stats = li.agg(statAggs.head, statAggs.tail: _*)
    val perKey = EncSortKeys.map { case (label, keys) =>
      // the synthetic lineitem duplicates (orderkey, linenumber), so a
      // total order needs every audited column in the tiebreak — then
      // residual ties are between rows identical on all audited
      // columns and run counts are tie-order-invariant
      val order = (keys ++ Seq("l_orderkey", "l_linenumber") ++
        EncColumns.map(_._1)).distinct.map(col)
      val w = Window.orderBy(order: _*)
      val withLag = li.select((li.columns.map(col) ++
        EncColumns.map { case (c, _) =>
          lag(col(c), 1).over(w).as(s"prev_$c") }): _*)
      val aggs = EncColumns.map { case (c, _) =>
        sum(when(col(s"prev_$c").isNull ||
          col(s"prev_$c") =!= col(c), 1L).otherwise(0L))
          .as(s"runs_$c")
      }
      withLag.agg(aggs.head, aggs.tail: _*)
        .withColumn("sort_key", lit(label))
    }.reduce(_ unionAll _)
      .crossJoin(broadcast(stats)).persist()
    val colRows = EncColumns.map { case (c, _) =>
      perKey.selectExpr("sort_key", s"'$c' AS col_name", "n",
        s"d_$c AS n_distinct", s"runs_$c AS n_runs",
        s"w_$c AS plain_b",
        s"(runs_$c * (w_$c + 4 * n)) DIV n AS rle_b",
        s"(d_$c * w_$c) DIV n + n * (CASE WHEN d_$c <= 256 THEN 1 " +
          s"WHEN d_$c <= 65536 THEN 2 ELSE 4 END) AS dict_b")
    }.reduce(_ unionAll _)
      .withColumn("best_b", least(col("plain_b"), col("rle_b"),
        col("dict_b")))
      .withColumn("encoding",
        when(col("best_b") === col("rle_b"), "rle")
          .when(col("best_b") === col("dict_b"), "dict")
          .otherwise("plain"))
    val totals = colRows.groupBy("sort_key")
      .agg(sum(col("best_b")).as("layout_bytes"))
    val minTot = totals.agg(min(col("layout_bytes")).as("mn"))
    colRows.join(totals, "sort_key").crossJoin(broadcast(minTot))
      .select(col("sort_key"), col("col_name"), col("n"),
        col("n_distinct"), col("n_runs"), col("plain_b"), col("rle_b"),
        col("dict_b"), col("encoding"), col("layout_bytes"),
        (col("layout_bytes") === col("mn")).as("best_layout"))
      .orderBy("sort_key", "col_name")
  }

  def encodingAdvisorOracle: String = {
    val sampleFp = "CAST('0x' || substr(md5(CAST(l_orderkey AS " +
      "VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 15) " +
      "AS BIGINT)"
    val keyCtes = EncSortKeys.map { case (label, keys) =>
      val order = (keys ++ Seq("l_orderkey", "l_linenumber") ++
        EncColumns.map(_._1)).distinct.mkString(", ")
      val lags = EncColumns.map { case (c, _) =>
        s"lag($c) OVER (ORDER BY $order) AS prev_$c" }.mkString(",\n    ")
      val aggs = EncColumns.map { case (c, width) =>
        val wTot =
          if (width > 0) s"CAST(count(*) * $width AS BIGINT)"
          else s"CAST(sum(length($c)) AS BIGINT)"
        s"""CAST(count(DISTINCT $c) AS BIGINT) AS d_$c,
           |    CAST(sum(CASE WHEN prev_$c IS NULL OR prev_$c <> $c
           |      THEN 1 ELSE 0 END) AS BIGINT) AS runs_$c,
           |    $wTot AS w_$c""".stripMargin
      }.mkString(",\n    ")
      s"""k_$label AS (SELECT '$label' AS sort_key, $aggs,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT smp.*,
         |    $lags
         |  FROM smp))""".stripMargin
    }.mkString(",\n")
    val colSelects = EncSortKeys.map { case (label, _) =>
      EncColumns.map { case (c, _) =>
        s"""SELECT sort_key, '$c' AS col_name, n, d_$c AS n_distinct,
           |  runs_$c AS n_runs, w_$c AS plain_b,
           |  (runs_$c * (w_$c + 4 * n)) // n AS rle_b,
           |  (d_$c * w_$c) // n + n * (CASE WHEN d_$c <= 256 THEN 1
           |    WHEN d_$c <= 65536 THEN 2 ELSE 4 END) AS dict_b
           |FROM k_$label""".stripMargin
      }.mkString("\nUNION ALL ")
    }.mkString("\nUNION ALL ")
    s"""WITH smp AS (SELECT l_orderkey, l_partkey, l_suppkey,
       |    l_quantity, l_returnflag, l_linestatus, l_linenumber,
       |    $sampleFp AS skhash
       |  FROM lineitem WHERE $sampleFp % $EncSampleMod = 0),
       |$keyCtes,
       |cr AS (SELECT *,
       |    least(plain_b, rle_b, dict_b) AS best_b,
       |    CASE WHEN least(plain_b, rle_b, dict_b) = rle_b THEN 'rle'
       |      WHEN least(plain_b, rle_b, dict_b) = dict_b THEN 'dict'
       |      ELSE 'plain' END AS encoding
       |  FROM ($colSelects)),
       |tt AS (SELECT sort_key, CAST(sum(best_b) AS BIGINT)
       |    AS layout_bytes FROM cr GROUP BY sort_key),
       |mt AS (SELECT min(layout_bytes) AS mn FROM tt)
       |SELECT cr.sort_key, cr.col_name, cr.n, cr.n_distinct,
       |  cr.n_runs, cr.plain_b, cr.rle_b, cr.dict_b, cr.encoding,
       |  tt.layout_bytes, tt.layout_bytes = mt.mn AS best_layout
       |FROM cr JOIN tt USING (sort_key) CROSS JOIN mt
       |ORDER BY cr.sort_key, cr.col_name""".stripMargin
  }

  // --- q267: bloom-filter sizing planner ----------------------------------

  /** (bits/key, optimal k, analytic fpp = (1−e^{−k·n/m})^k) — the fpp
    * values are BUILD-TIME literals (the q190/q252 discipline: no
    * runtime exp), e0-suffixed for double parsing in both engines. */
  val BloomConfigs: Seq[(Int, Int, String)] = Seq(
    (4, 3, "0.14689159766038104e0"),
    (8, 6, "0.021577141463219263e0"),
    (12, 8, "0.003142350345702593e0"),
    (16, 11, "0.0004587107308146284e0"))

  /** q267 — bloom-filter sizing planner: before the runtime-filter
    * joins (q66/q236) and the streaming dedup bloom (q181) ship a
    * filter, this audit prices the bits-per-key / hash-count frontier:
    * for each config it SIMULATES the filter (k md5 positions per key
    * into an m-bit space, built from the real key column) and measures
    * the empirical false-positive rate on disjoint probe keys against
    * the analytic (1−e^{−kn/m})^k literal. The audited knob is the one
    * q181 hardcodes.
    *
    * Exactness: inserted bit positions and probe memberships are exact
    * integer sets (distinct + join); fpp is one division; the analytic
    * side is a build-time literal.
    *
    * Scale (100 TB): inserts/probes are k rows per key (linear, k ≤
    * 11); the membership join is an equi-join on (config, position) —
    * the simulation costs what building the real filter costs. */
  def bloomPlanner(s: SparkSession, dir: String): DataFrame = {
    val keys = EtlOps.t(s, dir, "orders")
      .select(col("o_orderkey").as("key")).persist()
    val cfg = BloomConfigs.map { case (b, k, _) => (b, k) }
    val cfgDf = s.createDataFrame(cfg).toDF("bpk", "k")
    val n = keys.count() // metadata scalar: sizes the bit space
    val withCfg = keys.crossJoin(broadcast(cfgDf))
      .withColumn("j", explode(expr("sequence(0, k - 1)")))
    // the distinct LOOKS redundant under a semi-join but is load-
    // bearing: it collapses the k·n insert rows to the ~m set-bit
    // positions BEFORE the join's build side (A/B at 10×: 13.0 s with
    // it, 34 s without)
    val inserted = withCfg.select(col("bpk"),
        (call_function("md5_fp60", concat(lit("bf"), col("j"),
          lit(":"), col("key").cast("string")))
          % (lit(n) * col("bpk"))).as("pos"))
      .distinct()
    val probes = keys.select((col("key") + 100000000L).as("key"))
      .crossJoin(broadcast(cfgDf))
      .withColumn("j", explode(expr("sequence(0, k - 1)")))
      .select(col("bpk"), col("k"), col("key"),
        (call_function("md5_fp60", concat(lit("bf"), col("j"),
          lit(":"), col("key").cast("string")))
          % (lit(n) * col("bpk"))).as("pos"))
    val hits = probes.join(inserted, Seq("bpk", "pos"), "left_semi")
      .groupBy("bpk", "k", "key").agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === col("k"))
      .groupBy("bpk").agg(count(lit(1)).as("fp"))
    val ana = s.createDataFrame(BloomConfigs.map { case (b, k, f) =>
      (b, k, f.dropRight(2).toDouble) }).toDF("bpk", "k", "analytic")
    ana.join(hits, Seq("bpk"), "left")
      .selectExpr("bpk AS bits_per_key", "k", s"CAST($n AS BIGINT) " +
          "AS n_keys",
        "coalesce(fp, 0) AS false_positives",
        s"round(CAST(coalesce(fp, 0) AS DOUBLE) / $n, 6) AS " +
          "empirical_fpp",
        "round(analytic, 6) AS analytic_fpp",
        s"CAST(coalesce(fp, 0) AS DOUBLE) / $n < 2.0 * analytic " +
          "AS within_model")
      .orderBy("bits_per_key")
  }

  def bloomPlannerOracle: String = {
    val fp = (tag: String) => "CAST(CAST('0x' || substr(md5('bf' || " +
      s"CAST(j AS VARCHAR) || ':' || CAST($tag AS VARCHAR)), 1, 15) " +
      "AS BIGINT) AS BIGINT)"
    val cfgRows = BloomConfigs.map { case (b, k, f) =>
      s"SELECT $b AS bpk, $k AS k, $f AS analytic" }
      .mkString(" UNION ALL ")
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
       |cfg AS ($cfgRows),
       |ins AS (SELECT DISTINCT bpk,
       |    ${fp("o_orderkey")} % (n * bpk) AS pos
       |  FROM orders, cfg, nn,
       |    (SELECT unnest(range(0, 11)) AS j)
       |  WHERE j < k),
       |pr AS (SELECT bpk, k, o_orderkey + 100000000 AS key,
       |    ${fp("o_orderkey + 100000000")} % (n * bpk) AS pos
       |  FROM orders, cfg, nn,
       |    (SELECT unnest(range(0, 11)) AS j)
       |  WHERE j < k),
       |hit AS (SELECT pr.bpk, pr.k, pr.key,
       |    CAST(count(*) AS BIGINT) AS nhit
       |  FROM pr JOIN ins ON ins.bpk = pr.bpk AND ins.pos = pr.pos
       |  GROUP BY pr.bpk, pr.k, pr.key),
       |fpc AS (SELECT bpk, CAST(count(*) AS BIGINT) AS fp FROM hit
       |  WHERE nhit = k GROUP BY bpk)
       |SELECT cfg.bpk AS bits_per_key, cfg.k, nn.n AS n_keys,
       |  coalesce(fp, 0) AS false_positives,
       |  round(CAST(coalesce(fp, 0) AS DOUBLE) / nn.n, 6)
       |    AS empirical_fpp,
       |  round(analytic, 6) AS analytic_fpp,
       |  CAST(coalesce(fp, 0) AS DOUBLE) / nn.n < 2.0 * analytic
       |    AS within_model
       |FROM cfg LEFT JOIN fpc ON fpc.bpk = cfg.bpk, nn
       |ORDER BY bits_per_key""".stripMargin
  }

  // --- q277: LRU miss-ratio curve from stack distances ---------------------

  /** Cache-size grid audited (entries). */
  val MrcSizes: Seq[Int] = Seq(10, 25, 50, 75, 100, 150)
  /** Reuse-interval tile width for the range equi-join. */
  val MrcTile = 256L
  /** SHARDS-style key-sampling mod (identity at test scale; at volume
    * sample 1-in-mod KEYS and scale distances ×mod). */
  val MrcSampleMod: Long = 1L

  /** q277 — LRU miss-ratio curve by Mattson stack distances over the
    * event stream (key = user_id): the hit rate of EVERY cache size in
    * one pass over the trace — the sizing tool behind broadcast-cache
    * and state-store decisions. An access's stack distance is the
    * number of DISTINCT keys touched since that key's previous access;
    * under LRU it hits a cache of c entries iff distance < c.
    *
    * Distributed shape: reuse intervals (prev_rn, rn) tile into
    * [[MrcTile]]-wide buckets, the interval×access pairing becomes an
    * equi-join on the tile (the q244 lesson: never an inequality
    * join), and the distinct count per interval is one (interval, key)
    * dedup + count. Cost is Σ interval lengths ≈ n·K (K = working-set
    * size), NOT n² — and the production knob is SHARDS key-sampling
    * ([[MrcSampleMod]]): sample 1-in-mod keys, scale distances ×mod.
    *
    * Exactness: all counting; hit rates are single divisions; cold
    * (first-access) misses are counted separately.
    *
    * Scale (100 TB): one global rank window (at volume: per-shard
    * ranks with offset scalars — the q74 layout discipline); the tile
    * join is linear in Σ interval lengths with the sampling knob
    * bounding K. */
  def missRatioCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val acc = EtlOps.t(s, dir, "events")
      .filter(call_function("md5_fp60", concat(lit("mrc:"),
        col("user_id").cast("string"))) % MrcSampleMod === 0)
      .selectExpr("user_id", "ts", "event_id")
      .withColumn("rn", row_number().over(
        Window.orderBy(col("ts"), col("event_id"))))
      .select("user_id", "rn").persist()
    val iv = acc.withColumn("prev", lag(col("rn"), 1).over(
        Window.partitionBy("user_id").orderBy("rn")))
    val nAcc = acc.count()
    val intervals = iv.filter(col("prev").isNotNull)
      .select(col("rn").as("iid"), col("prev"))
      .filter(col("rn") > col("prev") + 1)
    val tiled = intervals.withColumn("tile", explode(expr(
      s"sequence(CAST(floor((prev + 1) / $MrcTile) AS BIGINT), " +
        s"CAST(floor((iid - 1) / $MrcTile) AS BIGINT))")))
    val accT = acc.withColumn("tile",
      expr(s"CAST(floor(rn / $MrcTile) AS BIGINT)"))
    val dist = tiled.join(accT, "tile")
      .filter(col("rn") > col("prev") && col("rn") < col("iid"))
      .select(col("iid"), col("user_id")).distinct()
      .groupBy("iid").agg(count(lit(1)).as("sd"))
    // adjacent re-accesses (empty interval) have stack distance 0
    val dAll = iv.filter(col("prev").isNotNull)
      .select(col("rn").as("iid"))
      .join(dist, Seq("iid"), "left")
      .selectExpr(s"coalesce(sd, 0) * $MrcSampleMod AS sd")
    val cold = iv.filter(col("prev").isNull).count()
    val sizes = s.createDataFrame(MrcSizes.map(Tuple1(_)))
      .toDF("cache_size")
    sizes.crossJoin(dAll)
      .groupBy("cache_size")
      .agg(sum(when(col("sd") < col("cache_size"), 1L).otherwise(0L))
        .as("hits"), count(lit(1)).as("reuses"))
      .selectExpr("CAST(cache_size AS BIGINT) AS cache_size", "hits",
        "reuses", s"CAST($cold AS BIGINT) AS cold_misses",
        s"round(CAST(hits AS DOUBLE) / $nAcc, 4) AS hit_rate")
      .orderBy("cache_size")
  }

  def missRatioCurveOracle: String = {
    val fp = "CAST(CAST('0x' || substr(md5('mrc:' || " +
      "CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS BIGINT)"
    val sizesSql = MrcSizes.map(c => s"SELECT $c AS cache_size")
      .mkString(" UNION ALL ")
    s"""WITH acc AS (SELECT user_id,
       |    CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT)
       |      AS rn
       |  FROM events WHERE $fp % $MrcSampleMod = 0),
       |iv AS (SELECT user_id, rn,
       |    lag(rn, 1) OVER (PARTITION BY user_id ORDER BY rn) AS prev
       |  FROM acc),
       |n_acc AS (SELECT CAST(count(*) AS BIGINT) AS na FROM acc),
       |dist AS (SELECT a.rn AS iid,
       |    CAST(count(DISTINCT b.user_id) AS BIGINT) AS sd
       |  FROM iv a JOIN acc b ON b.rn > a.prev AND b.rn < a.rn
       |  WHERE a.prev IS NOT NULL
       |  GROUP BY a.rn),
       |dall AS (SELECT coalesce(sd, 0) * $MrcSampleMod AS sd
       |  FROM iv LEFT JOIN dist ON dist.iid = iv.rn
       |  WHERE iv.prev IS NOT NULL),
       |cold AS (SELECT CAST(count(*) AS BIGINT) AS cm FROM iv
       |  WHERE prev IS NULL),
       |sz AS ($sizesSql)
       |SELECT CAST(cache_size AS BIGINT) AS cache_size,
       |  CAST(sum(CASE WHEN sd < cache_size THEN 1 ELSE 0 END)
       |    AS BIGINT) AS hits,
       |  CAST(count(*) AS BIGINT) AS reuses,
       |  cm AS cold_misses,
       |  round(CAST(sum(CASE WHEN sd < cache_size THEN 1 ELSE 0 END)
       |    AS DOUBLE) / na, 4) AS hit_rate
       |FROM sz, dall, cold, n_acc
       |GROUP BY cache_size, cm, na
       |ORDER BY cache_size""".stripMargin
  }

  // --- q295: LPT makespan simulation ----------------------------------------

  /** Executor count the schedule is simulated for. */
  val LptExecutors = 8

  /** q295 — LPT (longest-processing-time-first) makespan simulation:
    * q105 plans shard SIZES and q220 prices reshard moves; this audits
    * the SCHEDULE — given the (event_type, day) shard size table, how
    * well does greedy LPT assignment onto [[LptExecutors]] executors
    * balance? Output: per-executor load, the makespan, the
    * max(total/E, max-shard) lower bound, and the ratio — Graham's
    * bound guarantees ≤ 4/3·OPT, and the measured ratio is the number
    * that says whether stage stragglers at 100 TB come from shard skew
    * (ratio ≈ 1, nothing to schedule better) or from scheduling
    * (ratio ≫ 1, re-split shards).
    *
    * Exactness: loads are exact integer sums over the deterministic
    * LPT order (size desc, type, day); Spark simulates on the
    * collected calendar-bounded shard table (the q274 metadata
    * boundary), the oracle carries the [[LptExecutors]] load/count
    * columns through a PIVOTED linear recursive CTE (the q282
    * technique) with the argmin as a generated left-biased CASE chain
    * — integer state, bit-identical.
    *
    * Scale (100 TB): the shard table is |types|·|calendar| cells; the
    * simulation is O(shards·E) on metadata. */
  def lptMakespan(s: SparkSession, dir: String): DataFrame = {
    val shards = EtlOps.t(s, dir, "events")
      .selectExpr("event_type AS et",
        "CAST(datediff(ts, DATE '2024-01-01') AS BIGINT) AS d")
      .groupBy("et", "d").agg(count(lit(1L)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (et, d, c) => (-c, et, d) }
    val e = LptExecutors
    val loads = Array.fill(e)(0L)
    val counts = Array.fill(e)(0L)
    shards.foreach { case (_, _, c) =>
      var best = 0
      var i = 1
      while (i < e) { if (loads(i) < loads(best)) best = i; i += 1 }
      loads(best) += c
      counts(best) += 1
    }
    val total = shards.map(_._3).sum
    val cmax = if (shards.isEmpty) 0L else shards.map(_._3).max
    val makespan = loads.max
    import s.implicits._
    (0 until e).map(i => (i.toLong + 1, counts(i), loads(i)))
      .toDF("executor", "n_shards", "load")
      .selectExpr("executor", "n_shards", "`load`",
        s"CAST($makespan AS BIGINT) AS makespan",
        s"CAST($total AS BIGINT) AS total_work",
        s"round(greatest(CAST($total AS DOUBLE) / $e, " +
          s"CAST($cmax AS DOUBLE)), 2) AS lower_bound",
        s"round(CAST($makespan AS DOUBLE) / " +
          s"greatest(CAST($total AS DOUBLE) / $e, " +
          s"CAST($cmax AS DOUBLE)), 4) AS lpt_ratio")
      .orderBy("executor")
  }

  def lptMakespanOracle: String = {
    val e = LptExecutors
    val range = 1 to e
    // left-biased integer argmin over the e load columns
    def winCond(i: Int): String = {
      val later = (i + 1 to e).map(j => s"l$i <= l$j")
      val strictEarlier = (1 until i).map(j => s"l$i < l$j")
      // executor i wins iff it is < all earlier and <= all later
      (strictEarlier ++ later).mkString(" AND ") match {
        case "" => "TRUE"
        case c  => c
      }
    }
    val stepCols = range.map { i =>
      s"""CASE WHEN ${winCond(i)} THEN l$i + r.c ELSE l$i END
         | AS l$i""".stripMargin.replace("\n", "")
    }.mkString(",\n    ")
    val cntCols = range.map { i =>
      s"""CASE WHEN ${winCond(i)} THEN n$i + 1 ELSE n$i END
         | AS n$i""".stripMargin.replace("\n", "")
    }.mkString(",\n    ")
    // seed column ORDER must match the recursive term (all loads,
    // then all counts) — UNION ALL binds by position
    val zeros = range.map(i => s"CAST(0 AS BIGINT) AS l$i")
      .mkString(", ") + ", " +
      range.map(i => s"CAST(0 AS BIGINT) AS n$i").mkString(", ")
    val unpivot = range.map(i =>
      s"SELECT $i AS executor, n$i AS n_shards, l$i AS " +
        s"\"load\", mk, tot FROM fin").mkString("\n  UNION ALL ")
    val mk = "greatest(" + range.map(i => s"l$i").mkString(", ") + ")"
    s"""WITH RECURSIVE shards AS (SELECT event_type AS et,
       |    CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT)
       |      AS d, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |rk AS (SELECT *, row_number() OVER (ORDER BY c DESC, et, d)
       |    AS rn FROM shards),
       |sim AS (
       |  SELECT 0 AS k, $zeros
       |  UNION ALL
       |  SELECT sim.k + 1,
       |    $stepCols,
       |    $cntCols
       |  FROM sim JOIN rk r ON r.rn = sim.k + 1),
       |fin AS (SELECT $mk AS mk,
       |    ${range.map(i => s"l$i").mkString(" + ")} AS tot, *
       |  FROM sim WHERE k = (SELECT max(rn) FROM rk)),
       |up AS (
       |  $unpivot),
       |cm AS (SELECT max(c) AS cmax FROM shards)
       |SELECT CAST(executor AS BIGINT) AS executor, n_shards, "load",
       |  mk AS makespan, tot AS total_work,
       |  round(greatest(CAST(tot AS DOUBLE) / $e,
       |    CAST(cm.cmax AS DOUBLE)), 2) AS lower_bound,
       |  round(CAST(mk AS DOUBLE) / greatest(CAST(tot AS DOUBLE)
       |    / $e, CAST(cm.cmax AS DOUBLE)), 4) AS lpt_ratio
       |FROM up, cm ORDER BY executor""".stripMargin
  }

  // --- q296: optimal checkpoint interval (Young/Daly) -----------------------

  /** Checkpoint write cost (seconds) and the candidate interval grid. */
  val DalyDelta = 30.0
  val DalyGrid: Seq[Int] = Seq(60, 120, 300, 600, 1200, 1800, 3600)

  /** q296 — Young/Daly optimal checkpoint interval: long-running jobs
    * (multi-day training runs, giant backfills) checkpoint at interval
    * τ; too often wastes δ per write, too rarely wastes τ/2 of rework
    * per failure. With MTBF M estimated from the observed error-event
    * stream, first-order expected overhead is δ/τ + τ/(2M), minimized
    * at Daly's τ* = √(2δM). The sweep makes the tradeoff a table: the
    * grid point bracketing τ* must carry the minimum overhead — the
    * number that sets checkpoint cadence before a 1000-executor run
    * starts.
    *
    * Exactness: MTBF comes from exact epoch-microsecond extremes and
    * an integer failure count; the curve is a fixed double expression
    * per grid literal.
    *
    * Scale (100 TB): one error-stream min/max/count aggregate; the
    * grid is compile-time literals. */
  def checkpointInterval(s: SparkSession, dir: String): DataFrame = {
    val agg = EtlOps.t(s, dir, "events")
      .filter(col("event_type") === "error")
      .agg(count(lit(1L)).as("nf"),
        min(expr("unix_micros(ts)")).as("t0"),
        max(expr("unix_micros(ts)")).as("t1"))
    val grid = DalyGrid.mkString(", ")
    agg
      .selectExpr("nf",
        "(CAST(t1 AS DOUBLE) - CAST(t0 AS DOUBLE)) / 1e6 / nf " +
          "AS mtbf_s")
      .selectExpr("nf", "mtbf_s",
        s"sqrt(2.0 * $DalyDelta * mtbf_s) AS tau_opt",
        s"explode(array($grid)) AS tau_s")
      .withColumn("overhead", expr(
        s"$DalyDelta / tau_s + tau_s / (2.0 * mtbf_s)"))
      .withColumn("omin", min(col("overhead")).over(
        Window.partitionBy(lit(1))))
      .selectExpr("CAST(tau_s AS BIGINT) AS tau_s",
        "round(overhead, 6) AS overhead_frac",
        "nf AS n_failures", "round(mtbf_s, 2) AS mtbf_s",
        "round(tau_opt, 2) AS tau_opt_s",
        "overhead = omin AS is_best")
      .orderBy("tau_s")
  }

  def checkpointIntervalOracle: String = {
    val taus = DalyGrid.map(t => s"($t)").mkString(", ")
    s"""WITH a AS (SELECT count(*) AS nf,
       |    min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
       |  FROM events WHERE event_type = 'error'),
       |m AS (SELECT nf,
       |    (CAST(t1 AS DOUBLE) - CAST(t0 AS DOUBLE)) / 1e6 / nf
       |      AS mtbf_s
       |  FROM a),
       |g AS (SELECT m.nf, m.mtbf_s,
       |    sqrt(2.0 * $DalyDelta * m.mtbf_s) AS tau_opt,
       |    t.tau_s
       |  FROM m, (VALUES $taus) t(tau_s)),
       |o AS (SELECT *,
       |    $DalyDelta / tau_s + tau_s / (2.0 * mtbf_s) AS overhead
       |  FROM g),
       |w AS (SELECT *, min(overhead) OVER () AS omin FROM o)
       |SELECT CAST(tau_s AS BIGINT) AS tau_s,
       |  round(overhead, 6) AS overhead_frac,
       |  nf AS n_failures, round(mtbf_s, 2) AS mtbf_s,
       |  round(tau_opt, 2) AS tau_opt_s,
       |  overhead = omin AS is_best
       |FROM w ORDER BY tau_s""".stripMargin
  }

  // --- q302: sampling-based AQP error audit ----------------------------------

  /** Sample rates audited (percent). */
  val AqpRates: Seq[Int] = Seq(1, 5, 10)

  /** q302 — approximate-query-processing error audit: can the daily
    * dashboard run on a 1% hash-sample of the 100 TB event log? For
    * each rate the audit computes every per-type mean from the sampled
    * rows, the EXACT mean, the realized error, and the 95% CI the
    * sample itself would publish — the within-CI flag is the
    * end-to-end check that the sampling estimator's error bars can be
    * trusted (q42 audits sketches for distinct counts; this audits row
    * sampling for means — the other half of the AQP toolbox).
    *
    * Exactness: the sample membership is a hash predicate; all moments
    * are ×100-integer sums; estimates/errors/CI are fixed-order double
    * expressions.
    *
    * Scale (100 TB): ONE scan computes all rates' moments (a rate-r
    * sample is hash % 100 < r, so conditional aggregation nests the
    * samples); output is |rates|·|types| rows. */
  def sampleAqp(s: SparkSession, dir: String): DataFrame = {
    val ev = EtlOps.t(s, dir, "events").selectExpr("event_type AS et",
      "CAST(round(value * 100, 0) AS BIGINT) AS v",
      "CAST(md5_fp60(concat('aqp:', CAST(event_id AS STRING))) % 100 " +
        "AS INT) AS h")
    val aggs = AqpRates.flatMap { r =>
      Seq(sum(when(col("h") < r, 1L).otherwise(0L)).as(s"n$r"),
        sum(when(col("h") < r, col("v")).otherwise(0L)).as(s"s$r"),
        sum(when(col("h") < r,
          expr("CAST(v AS DECIMAL(38,0)) * v")).otherwise(expr(
          "CAST(0 AS DECIMAL(38,0))"))).as(s"q$r"))
    } ++ Seq(count(lit(1L)).as("n_all"), sum(col("v")).as("s_all"))
    val mom = ev.groupBy("et").agg(aggs.head, aggs.tail: _*)
    val stacked = AqpRates.map { r =>
      s"struct($r AS rate, n$r AS n, s$r AS sv, q$r AS qv)"
    }.mkString(", ")
    mom.selectExpr("et", "n_all", "s_all",
        s"explode(array($stacked)) AS m")
      .selectExpr("et", "m.rate AS rate", "m.n AS n_sampled",
        "m.sv AS sv", "m.qv AS qv", "n_all", "s_all")
      .filter(col("n_sampled") > 1)
      .selectExpr("CAST(rate AS BIGINT) AS rate_pct", "et AS event_type",
        "n_sampled",
        "round(CAST(sv AS DOUBLE) / n_sampled / 100.0, 4) AS est_mean",
        "round(CAST(s_all AS DOUBLE) / n_all / 100.0, 4) AS exact_mean",
        "round(abs(CAST(sv AS DOUBLE) / n_sampled - " +
          "CAST(s_all AS DOUBLE) / n_all) / 100.0, 4) AS abs_err",
        "round(1.96 * sqrt((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE) " +
          "* sv / n_sampled) / (n_sampled - 1.0) / n_sampled) / 100.0" +
          ", 4) AS ci_half",
        "abs(CAST(sv AS DOUBLE) / n_sampled - CAST(s_all AS DOUBLE) " +
          "/ n_all) <= 1.96 * sqrt((CAST(qv AS DOUBLE) - " +
          "CAST(sv AS DOUBLE) * sv / n_sampled) / (n_sampled - 1.0) " +
          "/ n_sampled) AS within_ci")
      .orderBy("rate_pct", "event_type")
  }

  def sampleAqpOracle: String = {
    val perRate = AqpRates.map { r =>
      s"""SELECT $r AS rate, et, n$r AS n_sampled, s$r AS sv, q$r AS qv,
         |  n_all, s_all FROM mom""".stripMargin
    }.mkString("\n  UNION ALL ")
    val rateAggs = AqpRates.map { r =>
      s"""CAST(sum(CASE WHEN h < $r THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n$r,
         |    CAST(sum(CASE WHEN h < $r THEN v ELSE 0 END) AS BIGINT)
         |      AS s$r,
         |    sum(CASE WHEN h < $r THEN CAST(v AS HUGEINT) * v
         |      ELSE CAST(0 AS HUGEINT) END) AS q$r""".stripMargin
    }.mkString(",\n    ")
    s"""WITH ev AS (SELECT event_type AS et,
       |    CAST(round(value * 100, 0) AS BIGINT) AS v,
       |    CAST(CAST('0x' || substr(md5('aqp:' ||
       |      CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
       |      AS INT) AS h
       |  FROM events),
       |mom AS (SELECT et,
       |    $rateAggs,
       |    count(*) AS n_all, CAST(sum(v) AS BIGINT) AS s_all
       |  FROM ev GROUP BY et),
       |lng AS (
       |  $perRate)
       |SELECT CAST(rate AS BIGINT) AS rate_pct, et AS event_type,
       |  n_sampled,
       |  round(CAST(sv AS DOUBLE) / n_sampled / 100.0, 4) AS est_mean,
       |  round(CAST(s_all AS DOUBLE) / n_all / 100.0, 4) AS exact_mean,
       |  round(abs(CAST(sv AS DOUBLE) / n_sampled -
       |    CAST(s_all AS DOUBLE) / n_all) / 100.0, 4) AS abs_err,
       |  round(1.96 * sqrt((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE)
       |    * sv / n_sampled) / (n_sampled - 1.0) / n_sampled) / 100.0
       |    , 4) AS ci_half,
       |  abs(CAST(sv AS DOUBLE) / n_sampled - CAST(s_all AS DOUBLE)
       |    / n_all) <= 1.96 * sqrt((CAST(qv AS DOUBLE) -
       |    CAST(sv AS DOUBLE) * sv / n_sampled) / (n_sampled - 1.0)
       |    / n_sampled) AS within_ci
       |FROM lng WHERE n_sampled > 1
       |ORDER BY rate_pct, event_type""".stripMargin
  }

  // --- q303: sessionization gap-sensitivity curve -----------------------------

  /** Candidate inactivity gaps (minutes). */
  val GapGrid: Seq[Int] = Seq(5, 15, 30, 60, 120)

  /** q303 — sessionization gap-sensitivity: q39 sessionizes at the
    * folklore 30-minute gap; this prices the KNOB — for each candidate
    * inactivity threshold, the session count, mean events per session,
    * and the single-event-session share, all from ONE per-user ordered
    * pass (a session break at threshold τ is just `gap > τ`, so every
    * threshold is a conditional sum over the SAME gap column — five
    * sessionizations for the price of one window). Where the curve's
    * knee sits is the data-driven gap choice.
    *
    * Exactness: gaps are exact microsecond integers; counts are
    * integers; the means are single divisions. Single-event sessions
    * per τ are counted by the standard identity: a session is
    * single-event iff the break pattern isolates the row (both its
    * own gap and the NEXT row's gap exceed τ, with stream edges
    * counting as breaks).
    *
    * Scale (100 TB): one user_id exchange, one in-partition sort, one
    * |grid|-column conditional aggregate, a 5-row unpivot. */
  def sessionGapCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = EtlOps.t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap",
        expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1)
          .over(w))
      .withColumn("ngap", lead(col("gap"), 1).over(w))
    val aggs = GapGrid.flatMap { g =>
      val us = g * 60L * 1000000L
      Seq(
        sum(expr(s"CAST(gap IS NULL OR gap > $us AS INT)"))
          .as(s"br$g"),
        sum(expr(s"CAST((gap IS NULL OR gap > $us) AND " +
          s"(ngap IS NULL OR ngap > $us) AS INT)")).as(s"sg$g"))
    } :+ count(lit(1L)).as("n_events")
    val m = ev.agg(aggs.head, aggs.tail: _*)
    val stacked = GapGrid.map(g =>
      s"struct($g AS gap_min, br$g AS ns, sg$g AS single)")
      .mkString(", ")
    m.selectExpr("n_events", s"explode(array($stacked)) AS r")
      .selectExpr("CAST(r.gap_min AS BIGINT) AS gap_minutes",
        "CAST(r.ns AS BIGINT) AS n_sessions",
        "n_events",
        "round(CAST(n_events AS DOUBLE) / r.ns, 2) " +
          "AS mean_events_per_session",
        "CAST(r.single AS BIGINT) AS n_single_event",
        "round(CAST(r.single AS DOUBLE) / r.ns, 4) AS single_share")
      .orderBy("gap_minutes")
  }

  def sessionGapCurveOracle: String = {
    val aggs = GapGrid.map { g =>
      val us = g * 60L * 1000000L
      s"""CAST(sum(CASE WHEN gap IS NULL OR gap > $us THEN 1 ELSE 0
         |      END) AS BIGINT) AS br$g,
         |    CAST(sum(CASE WHEN (gap IS NULL OR gap > $us) AND
         |      (ngap IS NULL OR ngap > $us) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS sg$g""".stripMargin
    }.mkString(",\n    ")
    val perGap = GapGrid.map(g =>
      s"SELECT $g AS gap_min, br$g AS ns, sg$g AS single, n_events " +
        "FROM m").mkString("\n  UNION ALL ")
    s"""WITH e0 AS (SELECT user_id, ts, event_id,
       |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |e AS (SELECT *,
       |    lead(gap) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS ngap
       |  FROM e0),
       |m AS (SELECT
       |    $aggs,
       |    count(*) AS n_events
       |  FROM e),
       |lng AS (
       |  $perGap)
       |SELECT CAST(gap_min AS BIGINT) AS gap_minutes,
       |  ns AS n_sessions, n_events,
       |  round(CAST(n_events AS DOUBLE) / ns, 2)
       |    AS mean_events_per_session,
       |  single AS n_single_event,
       |  round(CAST(single AS DOUBLE) / ns, 4) AS single_share
       |FROM lng ORDER BY gap_minutes""".stripMargin
  }

  // --- q304: retention / TTL compliance audit --------------------------------

  /** Per-stream retention policy (days) — signup identity data keeps
    * the shortest clock, telemetry the longest. */
  val RetentionDays: Seq[(String, Int)] = Seq(
    ("click", 21), ("error", 28), ("purchase", 30),
    ("signup", 14), ("view", 21))

  /** q304 — retention/TTL compliance audit: every data platform carries
    * per-stream retention policies (privacy clocks on identity data,
    * cost clocks on telemetry) and needs the daily answer to "what is
    * PAST its TTL right now, and how bad is the backlog?". As-of the
    * newest event day, per stream: expired row count and share, the
    * oldest surviving day vs the policy cutoff, and the violation flag
    * — the table a purge job consumes and a compliance report quotes.
    *
    * Exactness: day arithmetic on integers; shares are single
    * divisions.
    *
    * Scale (100 TB): one (type, day) cell collapse (map-side combined);
    * the policy is a broadcast literal frame; at the real scale the
    * day cells ARE the partition manifest, so the audit never scans
    * row data at all. */
  def retentionAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val policy = RetentionDays.toDF("et", "ttl_days")
    val cells = EtlOps.t(s, dir, "events")
      .selectExpr("event_type AS et",
        "CAST(datediff(ts, DATE '2024-01-01') AS BIGINT) AS d")
      .groupBy("et", "d").agg(count(lit(1L)).as("c"))
      .withColumn("asof", max(col("d")).over(
        Window.partitionBy(lit(1))))
    cells.join(broadcast(policy), "et")
      .groupBy("et").agg(
        max(col("asof")).as("asof_day"),
        max(col("ttl_days")).as("ttl_days"),
        sum(col("c")).as("n_rows"),
        min(col("d")).as("oldest_day"),
        sum(when(expr("d < asof - ttl_days"), col("c"))
          .otherwise(0L)).as("n_expired"))
      .selectExpr("et AS event_type", "asof_day",
        "CAST(ttl_days AS BIGINT) AS ttl_days",
        "asof_day - ttl_days AS cutoff_day", "oldest_day", "n_rows",
        "n_expired",
        "round(CAST(n_expired AS DOUBLE) / n_rows, 4) AS expired_share",
        "n_expired > 0 AS in_violation")
      .orderBy("event_type")
  }

  def retentionAuditOracle: String = {
    val pol = RetentionDays.map { case (e, t) => s"('$e', $t)" }
      .mkString(", ")
    s"""WITH cells AS (SELECT event_type AS et,
       |    CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT)
       |      AS d, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |w AS (SELECT *, CAST(max(d) OVER () AS BIGINT) AS asof_d
       |  FROM cells),
       |p AS (SELECT * FROM (VALUES $pol) pol(et, ttl_days)),
       |j AS (SELECT w.*, p.ttl_days FROM w JOIN p ON p.et = w.et)
       |SELECT et AS event_type, max(asof_d) AS asof_day,
       |  CAST(max(ttl_days) AS BIGINT) AS ttl_days,
       |  max(asof_d) - max(ttl_days) AS cutoff_day,
       |  min(d) AS oldest_day,
       |  CAST(sum(c) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN d < asof_d - ttl_days THEN c ELSE 0 END)
       |    AS BIGINT) AS n_expired,
       |  round(CAST(sum(CASE WHEN d < asof_d - ttl_days THEN c ELSE 0
       |    END) AS DOUBLE) / sum(c), 4) AS expired_share,
       |  sum(CASE WHEN d < asof_d - ttl_days THEN c ELSE 0 END) > 0
       |    AS in_violation
       |FROM j GROUP BY et ORDER BY event_type""".stripMargin
  }

  // --- q305: lineage-aware backfill planner -----------------------------------

  /** The pipeline DAG as (stage order, name, per-row cost factor
    * ×1000) — the reference's Luigi chain generalized: each stage
    * consumes the previous stage's output for the same day partition. */
  val BackfillStages: Seq[(Int, String, Long)] = Seq(
    (1, "ingest", 1000L), (2, "clean", 400L), (3, "dedup", 2500L),
    (4, "mixture", 300L), (5, "pack", 600L))

  /** Code change: stage the fix lands in, and the first affected day. */
  val BackfillStage = 3
  val BackfillFromDay = 12L

  /** q305 — lineage-aware backfill planner: when a fix lands in stage
    * [[BackfillStage]] effective day [[BackfillFromDay]], every
    * (stage ≥ fix, day ≥ effective) partition is stale and must
    * recompute IN STAGE ORDER — the plan the reference's Luigi
    * scheduler derives from task dependencies, generalized with a cost
    * model. Per stage: affected partition count, row volume, cost
    * (rows × stage factor), cumulative cost in execution order, and
    * the share of the full-history rebuild this targeted backfill
    * avoids.
    *
    * Exactness: partitions and rows are integer cells; costs are
    * integer products; shares are single divisions.
    *
    * Scale (100 TB): one (day) cell collapse of the fact stream; the
    * DAG is a literal frame; the plan is |stages|·|calendar| cells. */
  def backfillPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stages = BackfillStages.toDF("stage", "stage_name", "cost_fac")
    val days = EtlOps.t(s, dir, "events")
      .selectExpr("CAST(datediff(ts, DATE '2024-01-01') AS BIGINT) " +
        "AS d")
      .groupBy("d").agg(count(lit(1L)).as("c"))
    val full = days.crossJoin(broadcast(stages))
      .withColumn("affected", expr(
        s"stage >= $BackfillStage AND d >= $BackfillFromDay"))
    full.groupBy("stage", "stage_name", "cost_fac").agg(
        count(lit(1L)).as("n_partitions"),
        sum(when(col("affected"), 1L).otherwise(0L)).as("n_affected"),
        sum(when(col("affected"), col("c")).otherwise(0L))
          .as("rows_affected"),
        sum(col("c")).as("rows_total"))
      .selectExpr("CAST(stage AS BIGINT) AS stage", "stage_name",
        "n_affected", "rows_affected",
        "rows_affected * cost_fac AS cost",
        "rows_total * cost_fac AS full_rebuild_cost")
      .withColumn("cum_cost", sum(col("cost")).over(
        Window.orderBy("stage")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .selectExpr("stage", "stage_name", "n_affected", "rows_affected",
        "cost", "cum_cost",
        "round(CAST(cost AS DOUBLE) / full_rebuild_cost, 4) " +
          "AS vs_full_rebuild")
      .orderBy("stage")
  }

  def backfillPlanOracle: String = {
    val dag = BackfillStages.map { case (i, n, f) => s"($i, '$n', $f)" }
      .mkString(", ")
    s"""WITH days AS (SELECT
       |    CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT)
       |      AS d, count(*) AS c
       |  FROM events GROUP BY 1),
       |st AS (SELECT * FROM (VALUES $dag)
       |  s(stage, stage_name, cost_fac)),
       |f AS (SELECT days.*, st.*,
       |    stage >= $BackfillStage AND d >= $BackfillFromDay
       |      AS affected
       |  FROM days, st),
       |g AS (SELECT stage, stage_name, cost_fac,
       |    CAST(sum(CASE WHEN affected THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_affected,
       |    CAST(sum(CASE WHEN affected THEN c ELSE 0 END) AS BIGINT)
       |      AS rows_affected,
       |    CAST(sum(c) AS BIGINT) AS rows_total
       |  FROM f GROUP BY 1, 2, 3)
       |SELECT CAST(stage AS BIGINT) AS stage, stage_name, n_affected,
       |  rows_affected,
       |  rows_affected * cost_fac AS cost,
       |  CAST(sum(rows_affected * cost_fac) OVER (ORDER BY stage
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cum_cost,
       |  round(CAST(rows_affected * cost_fac AS DOUBLE) /
       |    (rows_total * cost_fac), 4) AS vs_full_rebuild
       |FROM g ORDER BY stage""".stripMargin
  }

  // --- q322: token-bucket rate-limiter replay ------------------------------

  /** Bucket capacity (tokens) and refill interval (µs per token):
    * 3-token burst, one token per 6 hours — a daily-quota-style
    * throttle sized so the replay BINDS on this fixture (360 of 10k
    * events rejected at sf0.01; a per-minute bucket admits everything
    * and the audit says nothing). All state lives in exact µs-token
    * units (capacity = [[RlBurst]]·[[RlTokenUs]]). */
  val RlBurst = 3L
  val RlTokenUs = 21600000000L

  final case class RlIn(user_id: Long, us: Long, event_id: Long,
      event_type: String)
  final case class RlOut(event_type: String, admitted: Long)

  /** q322 — token-bucket rate-limiter replay: simulate the standard
    * per-user admission policy (burst [[RlBurst]], one token per
    * [[RlTokenUs]] µs) over the historical event stream and report, per
    * event type, what it WOULD have rejected — the capacity-planning
    * replay every rate-limit/quota change ships behind. The recurrence
    * tokens' = min(cap, tokens + Δt) − admit·unit is order-dependent
    * and non-associative, so this is the genuinely-sequential case:
    * ONE hash exchange on the user key, an in-partition secondary
    * sort by (user, time, id), and a streaming `mapPartitions` state
    * machine resetting at user boundaries (the q101 packing shape) —
    * O(1) state per task, no per-group collect, no window tricks
    * pretending the recurrence is a prefix sum.
    *
    * Parity: timestamps enter as EXACT µs epochs (unix_micros /
    * epoch_us) and the whole bucket state is integer µs-token units —
    * no floats anywhere; the oracle replays the recurrence as a
    * recursive CTE stepping every user one event per round.
    *
    * Scale (100 TB): the exchange is user-keyed (the sessionization
    * partitioning); per task the replay is a single streaming pass
    * over sorted rows. At real scale the unit becomes (user, day) with
    * carried opening state — the state machine is unchanged. */
  def rateLimitReplay(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val cap = RlBurst * RlTokenUs
    val unit = RlTokenUs
    val admits = EtlOps.t(s, dir, "events")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
        "event_type")
      .as(Encoders.product[RlIn])
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us", "event_id")
      .mapPartitions({ it =>
        var user = Long.MinValue
        var tokens = 0L
        var prevUs = 0L
        it.map { r =>
          if (r.user_id != user) { user = r.user_id; tokens = cap }
          else tokens = math.min(cap, tokens + (r.us - prevUs))
          prevUs = r.us
          val ok = tokens >= unit
          if (ok) tokens -= unit
          RlOut(r.event_type, if (ok) 1L else 0L)
        }
      })(Encoders.product[RlOut])
      .toDF()
    admits.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("admitted")).as("n_admitted"))
      .withColumn("n_rejected", col("n_events") - col("n_admitted"))
      .withColumn("reject_rate", round(
        col("n_rejected").cast("double") / col("n_events").cast("double"),
        6))
      .orderBy("event_type")
  }

  def rateLimitReplayOracle: String = {
    val cap = RlBurst * RlTokenUs
    val unit = RlTokenUs
    s"""WITH RECURSIVE ev AS (SELECT user_id,
       |    epoch_us(ts) AS us, event_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events),
       |r AS (
       |  SELECT user_id, rn, us, event_type,
       |    CAST($cap AS BIGINT) >= $unit AS admitted,
       |    CAST($cap AS BIGINT)
       |      - (CASE WHEN CAST($cap AS BIGINT) >= $unit
       |         THEN $unit ELSE 0 END) AS tokens_after
       |  FROM ev WHERE rn = 1
       |  UNION ALL
       |  SELECT e.user_id, e.rn, e.us, e.event_type,
       |    least($cap, r.tokens_after + (e.us - r.us)) >= $unit
       |      AS admitted,
       |    least($cap, r.tokens_after + (e.us - r.us))
       |      - (CASE WHEN least($cap, r.tokens_after + (e.us - r.us))
       |          >= $unit THEN $unit ELSE 0 END) AS tokens_after
       |  FROM r JOIN ev e ON e.user_id = r.user_id
       |    AND e.rn = r.rn + 1)
       |SELECT event_type, count(*) AS n_events,
       |  CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_admitted,
       |  CAST(sum(CASE WHEN admitted THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_rejected,
       |  round(CAST(sum(CASE WHEN admitted THEN 0 ELSE 1 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS reject_rate
       |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin
  }
  // --- q373: token bucket through the native physical operator --------------

  /** q373 — the q322 token-bucket recurrence run through the engine's
    * whole-operator extension ([[graft.plans.TokenBucketExec]]: logical
    * node → injected planner strategy → physical operator with DECLARED
    * distribution/ordering requirements), rolled up per user: events,
    * admissions, rejections, and the reject flag. q322 hand-places its
    * exchange (repartition + sortWithinPartitions + mapPartitions — an
    * opaque barrier); THIS declares the same requirements to Catalyst,
    * so EnsureRequirements plans the exchange+sort, skips them when the
    * child is already user-clustered, and AQE sees a normal exchange.
    * Same exact integer µs-token recurrence, same admissions
    * (spec-pinned row-for-row against the mapPartitions form); the
    * difference is WHO owns the plan.
    *
    * Parity: identical recurrence constants ([[RlBurst]]/[[RlTokenUs]]);
    * the oracle replays it as the same recursive CTE, grouped by user.
    *
    * Scale (100 TB): one user-keyed exchange (or none, bucketed), one
    * in-partition sort, O(1) state per open user. */
  def rateLimitNative(s: SparkSession, dir: String): DataFrame = {
    val in = EtlOps.t(s, dir, "events")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id")
    graft.plans.TokenBucket(in, RlBurst * RlTokenUs, RlTokenUs)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("admitted")).as("n_admitted"))
      .selectExpr("user_id", "n_events", "n_admitted",
        "n_events - n_admitted AS n_rejected",
        "n_events > n_admitted AS throttled")
      .orderBy("user_id")
  }

  def rateLimitNativeOracle: String = {
    val cap = RlBurst * RlTokenUs
    val unit = RlTokenUs
    s"""WITH RECURSIVE ev AS (SELECT user_id,
       |    epoch_us(ts) AS us, event_id,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events),
       |r AS (
       |  SELECT user_id, rn, us,
       |    CAST($cap AS BIGINT) >= $unit AS admitted,
       |    CAST($cap AS BIGINT)
       |      - (CASE WHEN CAST($cap AS BIGINT) >= $unit
       |         THEN $unit ELSE 0 END) AS tokens_after
       |  FROM ev WHERE rn = 1
       |  UNION ALL
       |  SELECT e.user_id, e.rn, e.us,
       |    least($cap, r.tokens_after + (e.us - r.us)) >= $unit
       |      AS admitted,
       |    least($cap, r.tokens_after + (e.us - r.us))
       |      - (CASE WHEN least($cap, r.tokens_after + (e.us - r.us))
       |          >= $unit THEN $unit ELSE 0 END) AS tokens_after
       |  FROM r JOIN ev e ON e.user_id = r.user_id
       |    AND e.rn = r.rn + 1)
       |SELECT user_id, count(*) AS n_events,
       |  CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_admitted,
       |  CAST(sum(CASE WHEN admitted THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_rejected,
       |  count(*) > sum(CASE WHEN admitted THEN 1 ELSE 0 END)
       |    AS throttled
       |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // --- q326: corpus snapshot diff ------------------------------------------

  /** doc_id offset of the planted "added" documents in snapshot B. */
  val DiffAddOffset = 4000000L

  /** Snapshot B: snapshot A (the documents table) with planted
    * mutations — every 11th-mod-3 doc deleted, every 5th doc's content
    * revised, every 13th doc re-ingested under a fresh id — so all four
    * diff classes are populated at every sf (the q149 fixture
    * discipline). */
  private def diffSnapshots(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = EtlOps.t(s, dir, "documents")
    val a = docs.select(col("doc_id"), col("source"),
      md5(col("text")).as("h"))
    val b = docs.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"), col("source"),
        md5(when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text"))).as("h"))
      .unionAll(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + DiffAddOffset).as("doc_id"), col("source"),
          md5(concat(lit("new "), col("text"))).as("h")))
    (a, b)
  }

  /** q326 — corpus snapshot diff: classify every document across two
    * corpus snapshots as added / removed / changed / unchanged by
    * comparing CONTENT HASHES under a full outer join on doc_id, and
    * report the per-(source, status) census. This is the audit between
    * any two ingest runs — what the idempotency marker (q13) asserts
    * coarsely per partition, stated exactly per document: a re-crawl
    * that silently rewrites 40% of a source shows up here before it
    * poisons a dedup index built on the old snapshot.
    *
    * Parity: md5 hex strings compare byte-equal across engines; counts
    * are exact; the status CASE has one deterministic arm order.
    *
    * Scale (100 TB): both sides collapse to (doc_id, source, 32-char
    * hash) manifests BEFORE the join — document text never moves. The
    * full outer join hash-partitions on doc_id (co-partitioned if both
    * snapshots are bucketed by doc_id, as an ingest ledger would be),
    * and the output aggregate is |sources|x4 rows. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val (a, b) = diffSnapshots(s, dir)
    a.select(col("doc_id"), col("source").as("src_a"), col("h").as("h_a"))
      .join(b.select(col("doc_id"), col("source").as("src_b"),
        col("h").as("h_b")), Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_a"), col("src_b")).as("source"),
        when(col("h_b").isNull, "removed")
          .when(col("h_a").isNull, "added")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("source", "status").agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "status")
  }

  def snapshotDiffOracle: String =
    s"""WITH a AS (SELECT doc_id, source, md5(text) AS h FROM documents),
       |b AS (SELECT doc_id, source,
       |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
       |        ELSE text END) AS h
       |  FROM documents WHERE doc_id % 11 <> 3
       |  UNION ALL SELECT doc_id + $DiffAddOffset AS doc_id, source,
       |    md5('new ' || text) AS h
       |  FROM documents WHERE doc_id % 13 = 0),
       |j AS (SELECT COALESCE(a.source, b.source) AS source,
       |    CASE WHEN b.h IS NULL THEN 'removed'
       |         WHEN a.h IS NULL THEN 'added'
       |         WHEN a.h <> b.h THEN 'changed'
       |         ELSE 'unchanged' END AS status
       |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
       |SELECT source, status, count(*) AS n_docs FROM j
       |GROUP BY source, status ORDER BY source, status""".stripMargin

  // --- q352: three-way dataset merge (row-level, git-like) -----------------

  /** q352 — three-way merge of two dataset branches against their
    * common base (the row-level version of the classic 3-way text
    * merge; the semantics Delta/lakeFS-style data version control
    * implements): branch OURS edits doc_id ≡ 1 (mod 5) and deletes
    * ≡ 2 (mod 17); branch THEIRS edits ≡ 2 (mod 7) and deletes
    * ≡ 3 (mod 19). Per row the merge resolves to one of: unchanged,
    * take_ours, take_theirs, delete (agreed or one-sided on an
    * untouched row), or CONFLICT — both sides changed it differently
    * (edit/edit) or one edited what the other deleted (edit/delete).
    * The report is the outcome census + per-conflict-kind counts — the
    * gate a data-branch merge runs before fast-forwarding the main
    * table.
    *
    * Parity: change detection is md5-fingerprint equality (engine-
    * portable); outcomes are pure CASE algebra over existence/equality
    * flags; counts exact.
    *
    * Scale (100 TB): in production the branches arrive as CDC deltas,
    * so the joins are |Δ|-sized against the base's key partitioning;
    * here the full-frame form is one 3-way outer join on the key with
    * the same resolution expression — the census is one |outcomes|-
    * group aggregate either way. */
  def threeWayMerge(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .selectExpr("doc_id", "md5(text) AS fp")
    val ours = t(s, dir, "documents")
      .filter(col("doc_id") % 17 =!= 2)
      .selectExpr("doc_id",
        "md5(CASE WHEN doc_id % 5 = 1 THEN upper(text) ELSE text END)" +
          " AS fp_o")
    val theirs = t(s, dir, "documents")
      .filter(col("doc_id") % 19 =!= 3)
      .selectExpr("doc_id",
        "md5(CASE WHEN doc_id % 7 = 2 THEN text || ' theirs' ELSE text" +
          " END) AS fp_t")
    base.join(ours, Seq("doc_id"), "left")
      .join(theirs, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "fp_o IS NULL AS del_o", "fp_t IS NULL AS del_t",
        "fp_o IS NOT NULL AND fp_o <> fp AS mod_o",
        "fp_t IS NOT NULL AND fp_t <> fp AS mod_t")
      .selectExpr("CASE" +
        " WHEN del_o AND del_t THEN 'delete_agreed'" +
        " WHEN (mod_o AND del_t) OR (mod_t AND del_o)" +
        " THEN 'conflict_edit_delete'" +
        " WHEN mod_o AND mod_t THEN 'conflict_edit_edit'" +
        " WHEN del_o OR del_t THEN 'delete_one_sided'" +
        " WHEN mod_o THEN 'take_ours'" +
        " WHEN mod_t THEN 'take_theirs'" +
        " ELSE 'unchanged' END AS outcome")
      .groupBy("outcome").agg(count(lit(1)).as("n_docs"))
      .withColumn("is_conflict", col("outcome").startsWith("conflict"))
      .orderBy("outcome")
  }

  def threeWayMergeOracle: String =
    s"""WITH base AS (SELECT doc_id, md5(text) AS fp FROM documents),
       |ours AS (SELECT doc_id,
       |    md5(CASE WHEN doc_id % 5 = 1 THEN upper(text) ELSE text END)
       |      AS fp_o
       |  FROM documents WHERE doc_id % 17 <> 2),
       |theirs AS (SELECT doc_id,
       |    md5(CASE WHEN doc_id % 7 = 2 THEN text || ' theirs'
       |      ELSE text END) AS fp_t
       |  FROM documents WHERE doc_id % 19 <> 3),
       |f AS (SELECT b.doc_id,
       |    o.fp_o IS NULL AS del_o, t.fp_t IS NULL AS del_t,
       |    o.fp_o IS NOT NULL AND o.fp_o <> b.fp AS mod_o,
       |    t.fp_t IS NOT NULL AND t.fp_t <> b.fp AS mod_t
       |  FROM base b LEFT JOIN ours o USING (doc_id)
       |  LEFT JOIN theirs t USING (doc_id)),
       |r AS (SELECT CASE
       |    WHEN del_o AND del_t THEN 'delete_agreed'
       |    WHEN (mod_o AND del_t) OR (mod_t AND del_o)
       |      THEN 'conflict_edit_delete'
       |    WHEN mod_o AND mod_t THEN 'conflict_edit_edit'
       |    WHEN del_o OR del_t THEN 'delete_one_sided'
       |    WHEN mod_o THEN 'take_ours'
       |    WHEN mod_t THEN 'take_theirs'
       |    ELSE 'unchanged' END AS outcome
       |  FROM f)
       |SELECT outcome, count(*) AS n_docs,
       |  outcome LIKE 'conflict%' AS is_conflict
       |FROM r GROUP BY outcome ORDER BY outcome""".stripMargin

  // --- q348: incremental join-view maintenance (delta algebra) -------------

  /** q348 — incremental view maintenance of a join-aggregate view
    * (classic delta-algebra IVM, Blakeley–Larson–Tompa 1986): the
    * materialized view V = π_segment(γ_count,sum(orders ⋈ customer))
    * is maintained under a fact-side CDC batch — inserts ΔA⁺ (order
    * keys ≡ 0 mod 7, "newly arrived") and deletes ΔA⁻ (current keys
    * ≡ 3 mod 11, "retracted") — as V′ = V + γ(ΔA⁺ ⋈ C) − γ(ΔA⁻ ⋈ C):
    * only the DELTAS touch the join, never the base fact table. The
    * query applies the delta algebra AND recomputes V′ from scratch,
    * emitting both next to a per-segment consistency flag — the
    * IVM ≡ recompute proof runs in-query (the q229 composition
    * discipline), so a broken maintenance rule is a failing row, not a
    * silent drift. (Dim-side deltas are out of scope here: customer is
    * the static side; fact-side CDC is the shape a warehouse pays
    * hourly.)
    *
    * Parity: counts and floor(·100)-cent sums are exact integers;
    * additivity of (count, sum) under union/difference is exact
    * integer algebra — zero doubles until the final pretty-print
    * division.
    *
    * Scale (100 TB): the recompute side exists only as the audit's
    * ground truth; the IVM side joins |Δ| rows against the broadcast
    * dim and touches |segments| view rows — the whole point of IVM is
    * that its cost is O(|Δ|), not O(|A|), and this report certifies
    * the algebra that licenses skipping the recompute. The dim join
    * carries NO forced hint — customer is SF-proportional, so
    * stats/AQE broadcast it under the threshold and shuffle past it
    * (the delta side stays O(|Δ|) either way). */
  def ivmJoinView(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val orders = t(s, dir, "orders").selectExpr("o_orderkey", "o_custkey",
      "CAST(floor(o_totalprice * 100) AS BIGINT) AS price_fp")
    val a0 = orders.filter(col("o_orderkey") % 7 =!= 0)
    val dIns = orders.filter(col("o_orderkey") % 7 === 0)
    val dDel = a0.filter(col("o_orderkey") % 11 === 3)
    def view(a: DataFrame) = a.join(cust,
        col("o_custkey") === col("c_custkey"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), sum(col("price_fp")).as("sfp"))
    val v0 = view(a0)
    val vIns = view(dIns).withColumnRenamed("n", "n_ins")
      .withColumnRenamed("sfp", "s_ins")
    val vDel = view(dDel).withColumnRenamed("n", "n_del")
      .withColumnRenamed("sfp", "s_del")
    val ivm = v0
      .join(vIns, Seq("segment"), "full_outer")
      .join(vDel, Seq("segment"), "full_outer")
      .selectExpr("segment",
        "coalesce(n, 0L) AS n_before",
        "(coalesce(n, 0L) + coalesce(n_ins, 0L)) - coalesce(n_del, 0L)" +
          " AS n_ivm",
        "(coalesce(sfp, 0L) + coalesce(s_ins, 0L))" +
          " - coalesce(s_del, 0L) AS s_ivm")
    val recomputed = view(
        a0.filter(col("o_orderkey") % 11 =!= 3).unionByName(dIns))
      .withColumnRenamed("n", "n_rec").withColumnRenamed("sfp", "s_rec")
    ivm.join(recomputed, Seq("segment"), "full_outer")
      .selectExpr("segment", "n_before", "n_ivm",
        "round((CAST(s_ivm AS DOUBLE) / 100) / n_ivm, 6) AS avg_ivm",
        "coalesce(n_rec, 0L) AS n_recomputed",
        "n_ivm = coalesce(n_rec, 0L) AND s_ivm = coalesce(s_rec, 0L)" +
          " AS consistent")
      .orderBy("segment")
  }

  def ivmJoinViewOracle: String =
    s"""WITH o AS (SELECT o_orderkey, o_custkey,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS price_fp
       |  FROM orders),
       |c AS (SELECT c_custkey, c_mktsegment AS segment FROM customer),
       |a0 AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
       |dins AS (SELECT * FROM o WHERE o_orderkey % 7 = 0),
       |ddel AS (SELECT * FROM a0 WHERE o_orderkey % 11 = 3),
       |v0 AS (SELECT segment, count(*) AS n,
       |    CAST(sum(price_fp) AS BIGINT) AS sfp
       |  FROM a0 JOIN c ON o_custkey = c_custkey GROUP BY segment),
       |vi AS (SELECT segment, count(*) AS n_ins,
       |    CAST(sum(price_fp) AS BIGINT) AS s_ins
       |  FROM dins JOIN c ON o_custkey = c_custkey GROUP BY segment),
       |vd AS (SELECT segment, count(*) AS n_del,
       |    CAST(sum(price_fp) AS BIGINT) AS s_del
       |  FROM ddel JOIN c ON o_custkey = c_custkey GROUP BY segment),
       |ivm AS (SELECT segment,
       |    coalesce(n, 0) AS n_before,
       |    (coalesce(n, 0) + coalesce(n_ins, 0)) - coalesce(n_del, 0)
       |      AS n_ivm,
       |    (coalesce(sfp, 0) + coalesce(s_ins, 0)) - coalesce(s_del, 0)
       |      AS s_ivm
       |  FROM v0 FULL JOIN vi USING (segment)
       |  FULL JOIN vd USING (segment)),
       |rec AS (SELECT segment, count(*) AS n_rec,
       |    CAST(sum(price_fp) AS BIGINT) AS s_rec
       |  FROM (SELECT * FROM a0 WHERE o_orderkey % 11 <> 3
       |        UNION ALL SELECT * FROM dins) an
       |  JOIN c ON o_custkey = c_custkey GROUP BY segment)
       |SELECT segment, CAST(n_before AS BIGINT) AS n_before,
       |  CAST(n_ivm AS BIGINT) AS n_ivm,
       |  round((CAST(s_ivm AS DOUBLE) / 100) / n_ivm, 6) AS avg_ivm,
       |  CAST(coalesce(n_rec, 0) AS BIGINT) AS n_recomputed,
       |  n_ivm = coalesce(n_rec, 0) AND s_ivm = coalesce(s_rec, 0)
       |    AS consistent
       |FROM ivm FULL JOIN rec USING (segment)
       |ORDER BY segment""".stripMargin

  // --- q347: data-skipping effectiveness audit (z-order vs natural) --------

  /** File count target per layout: natural files are equal-width key
    * ranges; z-order files are Morton cells of `zval >> ZSkipShift`
    * (2·[[MortonBits]] − 6 ⇒ 64 cells). */
  val ZSkipFiles = 64L
  val ZSkipShift: Int = 2 * MortonBits - 6

  /** The two-column range-predicate grid the audit probes: 4×4 (x, y)
    * windows of width 8 × 64 over (p_size, price-bucket) space. */
  val ZSkipXLos: Seq[Long] = Seq(0L, 8L, 16L, 24L)
  val ZSkipYLos: Seq[Long] = Seq(0L, 64L, 128L, 192L)
  val ZSkipXW = 8L
  val ZSkipYW = 64L

  /** q347 — data-skipping effectiveness: the min/max-pruning audit
    * behind every columnar table format (parquet row-group stats,
    * Delta/Iceberg file skipping; Morton layout per Orenstein &
    * Merrett 1984). Rows are laid out twice — natural key order cut
    * into [[ZSkipFiles]] equal-width key ranges, and z-order cut at
    * Morton-cell boundaries — and for every predicate in the 4×4
    * two-column range grid the audit counts the files a min/max pruner
    * must scan under each layout, next to the files that actually
    * contain matches (the perfect-pruning floor). The z-order column
    * bounds BOTH dimensions per file, the natural layout only the key
    * — this report prices that difference predicate by predicate.
    *
    * Parity: pure integer min/max/overlap arithmetic; file ids are
    * value-derived (key ranges, Morton-cell shifts), NOT rank-derived —
    * no global row_number, so the audit itself has no corpus-sized
    * single-partition stage (the layout writer at 100 TB would
    * range-partition by the same keys).
    *
    * Scale (100 TB): two |files|-group aggregates for the stats, one
    * broadcast of the 16-row predicate grid against the |files|-row
    * stats frames, and one pass with the same broadcast for the
    * matching-file floor. The audit costs one scan; the decision it
    * informs (lay out by z before writing) saves the cluster from
    * scanning everything for every two-column query forever after. */
  def skippingAudit(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "part")
      .selectExpr("p_partkey", "CAST(p_size AS BIGINT) AS x",
        // cents, not dollars: the fixture's dollar residues mod 256
        // occupy only [132, 231], which empties half the predicate
        // grid; cent residues spread over the full byte
        "CAST(floor(p_retailprice * 100) AS BIGINT) % 256 AS y")
      .selectExpr("p_partkey", "x", "y",
        s"(${mortonExpr("x", "y", spark = true)}) AS zval")
    val width = base.agg(
      (((max(col("p_partkey")) + 1L) + (ZSkipFiles - 1L))
        / ZSkipFiles).cast("bigint").as("kw"))
    val rows = base.crossJoin(broadcast(width))
      .selectExpr("x", "y",
        "CAST(p_partkey / kw AS BIGINT) AS f_nat",
        s"shiftright(zval, $ZSkipShift) AS f_z").persist()
    val preds = ZSkipXLos.flatMap(xl => ZSkipYLos.map(yl => (xl, yl)))
    val predDf = s.createDataFrame(preds).toDF("x_lo", "y_lo")
    def fileStats(fcol: String) = rows.groupBy(col(fcol).as("f")).agg(
      min(col("x")).as("min_x"), max(col("x")).as("max_x"),
      min(col("y")).as("min_y"), max(col("y")).as("max_y"))
    def scanned(fcol: String, name: String) =
      fileStats(fcol).crossJoin(broadcast(predDf))
        .filter(col("min_x") < col("x_lo") + ZSkipXW &&
          col("max_x") >= col("x_lo") &&
          col("min_y") < col("y_lo") + ZSkipYW &&
          col("max_y") >= col("y_lo"))
        .groupBy("x_lo", "y_lo").agg(count(lit(1)).as(name))
    def matching(fcol: String, name: String) =
      rows.crossJoin(broadcast(predDf))
        .filter(col("x") >= col("x_lo") && col("x") < col("x_lo") + ZSkipXW
          && col("y") >= col("y_lo") && col("y") < col("y_lo") + ZSkipYW)
        .groupBy("x_lo", "y_lo")
        .agg(countDistinct(col(fcol)).as(name))
    predDf
      .join(scanned("f_nat", "files_scanned_natural"), Seq("x_lo", "y_lo"),
        "left")
      .join(scanned("f_z", "files_scanned_zorder"), Seq("x_lo", "y_lo"),
        "left")
      .join(matching("f_nat", "files_matching_natural"),
        Seq("x_lo", "y_lo"), "left")
      .join(matching("f_z", "files_matching_zorder"), Seq("x_lo", "y_lo"),
        "left")
      .selectExpr("x_lo", "y_lo",
        "coalesce(files_scanned_natural, 0L) AS files_scanned_natural",
        "coalesce(files_matching_natural, 0L) AS files_matching_natural",
        "coalesce(files_scanned_zorder, 0L) AS files_scanned_zorder",
        "coalesce(files_matching_zorder, 0L) AS files_matching_zorder")
      .orderBy("x_lo", "y_lo")
  }

  def skippingAuditOracle: String = {
    val preds = ZSkipXLos.flatMap(xl => ZSkipYLos.map(yl =>
      s"($xl, $yl)")).mkString(", ")
    s"""WITH base AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS x,
       |    CAST(floor(p_retailprice * 100) AS BIGINT) % 256 AS y
       |  FROM part),
       |bz AS (SELECT p_partkey, x, y,
       |    (${mortonExpr("x", "y", spark = false)}) AS zval FROM base),
       |wd AS (SELECT CAST(((max(p_partkey) + 1) + (${ZSkipFiles} - 1))
       |    // $ZSkipFiles AS BIGINT) AS kw FROM bz),
       |rws AS (SELECT x, y,
       |    CAST(p_partkey // kw AS BIGINT) AS f_nat,
       |    (zval >> $ZSkipShift) AS f_z FROM bz, wd),
       |preds(x_lo, y_lo) AS (VALUES $preds),
       |fs_nat AS (SELECT f_nat AS f, min(x) AS min_x, max(x) AS max_x,
       |    min(y) AS min_y, max(y) AS max_y FROM rws GROUP BY f_nat),
       |fs_z AS (SELECT f_z AS f, min(x) AS min_x, max(x) AS max_x,
       |    min(y) AS min_y, max(y) AS max_y FROM rws GROUP BY f_z),
       |sc_nat AS (SELECT x_lo, y_lo, count(*) AS n
       |  FROM fs_nat, preds WHERE min_x < x_lo + $ZSkipXW
       |    AND max_x >= x_lo AND min_y < y_lo + $ZSkipYW
       |    AND max_y >= y_lo GROUP BY x_lo, y_lo),
       |sc_z AS (SELECT x_lo, y_lo, count(*) AS n
       |  FROM fs_z, preds WHERE min_x < x_lo + $ZSkipXW
       |    AND max_x >= x_lo AND min_y < y_lo + $ZSkipYW
       |    AND max_y >= y_lo GROUP BY x_lo, y_lo),
       |mt_nat AS (SELECT x_lo, y_lo, count(DISTINCT f_nat) AS n
       |  FROM rws, preds WHERE x >= x_lo AND x < x_lo + $ZSkipXW
       |    AND y >= y_lo AND y < y_lo + $ZSkipYW GROUP BY x_lo, y_lo),
       |mt_z AS (SELECT x_lo, y_lo, count(DISTINCT f_z) AS n
       |  FROM rws, preds WHERE x >= x_lo AND x < x_lo + $ZSkipXW
       |    AND y >= y_lo AND y < y_lo + $ZSkipYW GROUP BY x_lo, y_lo)
       |SELECT CAST(p.x_lo AS BIGINT) AS x_lo,
       |  CAST(p.y_lo AS BIGINT) AS y_lo,
       |  CAST(coalesce(sn.n, 0) AS BIGINT) AS files_scanned_natural,
       |  CAST(coalesce(mn.n, 0) AS BIGINT) AS files_matching_natural,
       |  CAST(coalesce(sz.n, 0) AS BIGINT) AS files_scanned_zorder,
       |  CAST(coalesce(mz.n, 0) AS BIGINT) AS files_matching_zorder
       |FROM preds p
       |LEFT JOIN sc_nat sn USING (x_lo, y_lo)
       |LEFT JOIN sc_z sz USING (x_lo, y_lo)
       |LEFT JOIN mt_nat mn USING (x_lo, y_lo)
       |LEFT JOIN mt_z mz USING (x_lo, y_lo)
       |ORDER BY x_lo, y_lo""".stripMargin
  }
  // --- q385: rendezvous (HRW) shard assignment + rebalance audit -------------

  /** Shard counts audited: the N→N+1 expansion. */
  val HrwShards = 8

  /** q385 — rendezvous / highest-random-weight sharding audit (Thaler &
    * Ravishankar 1998; the consistent-placement scheme behind cache and
    * object-store routing): every document goes to the shard with the
    * highest hash(shard, doc) — no ring, no lookup table, and adding a
    * shard moves ONLY the documents whose new-shard hash wins
    * (expected 1/(N+1) of the corpus, and NEVER between old shards).
    * Reports per-shard load (docs + char mass) at N and N+1, the
    * realized rebalance fraction against the 1/(N+1) ideal, and an
    * in-query `moved_between_old` anomaly row that must be zero — the
    * minimal-disruption guarantee as a failing row instead of a slide
    * claim. Complements q105's capacity shard PLAN: q105 packs known
    * sizes; THIS is the stateless router a 100 TB serving/storage tier
    * actually runs per key.
    *
    * Parity: winners are exact (hash, shard) argmaxes under a total
    * order; counts exact; the fracs are pinned divisions.
    *
    * Scale (100 TB): assignment is a constant-width map (N+1 hashes
    * per doc, one partitioned-window argmax over the doc key);
    * rollups are enum-keyed (≤ N+1 groups); the movement audit
    * compares the two argmaxes computed in the SAME pass — one corpus
    * read, no joins against state. */
  def rendezvousShards(s: SparkSession, dir: String): DataFrame = {
    val n = HrwShards
    val docs = EtlOps.t(s, dir, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars"))
    val cand = docs.select(col("doc_id"), col("n_chars"),
        explode(expr(s"sequence(0, $n)")).as("shard"))
      .withColumn("h", call_function("md5_fp60",
        concat(lit("hrw:"), col("shard").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
    val w8 = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("h").desc, col("shard"))
    val picked = cand
      .withColumn("rn9", row_number().over(w8))
      .withColumn("rn8", when(col("shard") < n,
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")
          .orderBy(when(col("shard") < n, col("h")).desc,
            col("shard")))))
      .persist()
    val a8 = picked.filter(col("shard") < n && col("rn8") === 1)
      .select(col("doc_id"), col("n_chars"), col("shard").as("s8"))
    val a9 = picked.filter(col("rn9") === 1)
      .select(col("doc_id"), col("shard").as("s9"))
    val joined = a8.join(a9, "doc_id").persist()
    val tot = broadcast(joined.agg(count(lit(1)).as("n_total")))
    def loads(colName: String, scope: String) = joined
      .groupBy(col(colName).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .crossJoin(tot)
      .selectExpr(s"'$scope' AS scope", "CAST(shard AS BIGINT) AS shard",
        "n_docs", "n_chars",
        "round(CAST(n_docs AS DOUBLE) / n_total, 6) AS frac")
    val moved = joined.filter(col("s8") =!= col("s9"))
    val reb = moved.filter(col("s9") === n)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("n_chars"))
      .crossJoin(tot)
      .selectExpr("'rebalance_to_new' AS scope",
        s"CAST($n AS BIGINT) AS shard", "n_docs", "n_chars",
        "round(CAST(n_docs AS DOUBLE) / n_total, 6) AS frac")
    val anom = moved.filter(col("s9") =!= n)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("n_chars"))
      .crossJoin(tot)
      .selectExpr("'moved_between_old' AS scope",
        "CAST(-1 AS BIGINT) AS shard", "n_docs", "n_chars",
        "round(CAST(n_docs AS DOUBLE) / n_total, 6) AS frac")
    loads("s8", s"shards_$n").unionAll(loads("s9", s"shards_${n + 1}"))
      .unionAll(reb).unionAll(anom)
      .orderBy("scope", "shard")
  }

  def rendezvousShardsOracle: String = {
    val n = HrwShards
    val h = "CAST('0x' || substr(md5('hrw:' || CAST(shard AS VARCHAR)" +
      " || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
    s"""WITH d AS (SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars FROM documents),
       |cand AS (SELECT doc_id, n_chars, t.shard, $h AS h
       |  FROM d, (SELECT unnest(range(0, ${n + 1})) AS shard) t),
       |a9 AS (SELECT doc_id, n_chars, shard AS s9 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY h DESC, shard) AS rn FROM cand) WHERE rn = 1),
       |a8 AS (SELECT doc_id, shard AS s8 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY h DESC, shard) AS rn FROM cand WHERE shard < $n)
       |  WHERE rn = 1),
       |j AS (SELECT a9.doc_id, a9.n_chars, a8.s8, a9.s9
       |  FROM a9 JOIN a8 ON a8.doc_id = a9.doc_id),
       |tot AS (SELECT count(*) AS n_total FROM j),
       |l8 AS (SELECT 'shards_$n' AS scope, CAST(s8 AS BIGINT) AS shard,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    round(CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot), 6)
       |      AS frac
       |  FROM j GROUP BY s8),
       |l9 AS (SELECT 'shards_${n + 1}', CAST(s9 AS BIGINT),
       |    CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT),
       |    round(CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot), 6)
       |  FROM j GROUP BY s9),
       |reb AS (SELECT 'rebalance_to_new', CAST($n AS BIGINT),
       |    CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n_chars), 0) AS BIGINT),
       |    round(CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot), 6)
       |  FROM j WHERE s8 <> s9 AND s9 = $n),
       |anom AS (SELECT 'moved_between_old', CAST(-1 AS BIGINT),
       |    CAST(count(*) AS BIGINT),
       |    CAST(coalesce(sum(n_chars), 0) AS BIGINT),
       |    round(CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot), 6)
       |  FROM j WHERE s8 <> s9 AND s9 <> $n)
       |SELECT * FROM (SELECT * FROM l8 UNION ALL SELECT * FROM l9
       |  UNION ALL SELECT * FROM reb UNION ALL SELECT * FROM anom)
       |ORDER BY scope, shard""".stripMargin
  }
}
