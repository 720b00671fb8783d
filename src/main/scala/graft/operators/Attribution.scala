package graft.operators

import graft.functions.Portable.{dsum, r6}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Touch attribution over an event stream: for every conversion event,
  * which earlier event gets the credit — the user's FIRST touch (first
  * event ever) and LAST touch (the event immediately preceding the
  * conversion). The standard marketing/product-analytics join of a
  * conversion back onto its influencing history, done without a join.
  *
  * Spark shape: ONE shuffle on the user key. Both attribution columns
  * and the prior-event count are windows over the SAME
  * (partition, order) spec — (user, time, tie) — so they share a single
  * exchange + sort; the conversion filter then drops the non-conversion
  * rows. No self-join of events onto events (which would shuffle the
  * stream twice and explode on hot users), no per-user collect.
  *
  * Determinism: order ties break on `tieCol`; rows with NULL time are
  * excluded (they have no position in the history).
  *
  * Reference analog: none (events-analytics extension per the build
  * brief; complements [[Funnel]] / [[Sessionize]]).
  */
object Attribution {

  /** [[graft.functions.Portable.r6]] of a driver-side double. */
  private def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** The exact 6-decimal rational a SQL DECIMAL cast of `r6d(x)` gives
    * (`BigDecimal(double)` alone would drag the binary representation
    * error into the sums).
    */
  private def d6(x: Double): BigDecimal =
    BigDecimal(r6d(x)).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** (tieCol, userCol, first_touch, last_touch, n_prior) — one row per
    * conversion event (`typeCol === conversionType`). `first_touch` /
    * `last_touch` are NULL (and `n_prior` 0) when the conversion is the
    * user's first event.
    */
  def touchAttribution(
      events: DataFrame,
      userCol: String,
      timeCol: String,
      typeCol: String,
      tieCol: String,
      conversionType: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(timeCol), col(tieCol))
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col(timeCol).isNotNull)
      .select(
        col(tieCol), col(userCol), col(typeCol),
        first(col(typeCol)).over(prior).as("first_touch"),
        lag(col(typeCol), 1).over(w).as("last_touch"),
        count(lit(1)).over(prior).as("n_prior"))
      .filter(col(typeCol) === conversionType)
      .drop(typeCol)
  }

  /** Sentinel states of [[markovRemoval]]'s chain. Real channel names
    * may not collide with them (loudly enforced) — the un-spoofable-
    * encoding discipline. */
  val StartState = "__START__"
  val ConvState = "__CONV__"
  val DropState = "__NULL__"

  /** Markov removal-effect attribution (Anderl et al.) — the
    * whole-journey answer to "which channel actually DRIVES
    * conversions" that first/last-touch ([[touchAttribution]])
    * structurally cannot give: fit a first-order Markov chain over
    * user paths (START → events → conversion | dropout), then for each
    * channel ask how much total conversion probability survives when
    * that channel is knocked out (transitions INTO it become dropout).
    * removal_effect = 1 − P_removed/P_full — a channel whose removal
    * halves conversions carries half the credit, regardless of where
    * in the path it sits.
    *
    * Paths truncate at the user's FIRST conversion; non-converting
    * paths terminate in an explicit dropout state, so every row of the
    * transition matrix is a proper distribution. Conversion
    * probability is computed by K fixed steps of the forward recursion
    * v' = v·P over transient states, accumulating the mass absorbed
    * into conversion each step (fixed K, not a convergence test — the
    * library's iterative-fit determinism contract; with every row
    * leaking to absorbing states the truncation error decays
    * geometrically). Every probability and every accumulated product
    * is r6-pinned with DECIMAL-exact sums, so the recursion is
    * engine-replayable (the DuckDB oracle runs the same K steps as
    * staged CTEs).
    *
    * Scale shape: ONE user-keyed window pass + one groupBy builds the
    * (states+2)²-bounded transition-count frame; that frame (and ONLY
    * that frame) is collected under a loud cap — the bounded-collect
    * contract of k-means centroids and the BPE vocab — and the K·|C|
    * chain replays are driver-side closed-form arithmetic on ≤ a few
    * hundred doubles, not Spark stages. The event log is scanned once.
    *
    * Output: one row per non-conversion channel —
    * (channel, n_transitions, p_full, p_removed, removal_effect),
    * removal_effect NULL when P_full = 0.
    */
  def markovRemoval(
      events: DataFrame,
      userCol: String,
      timeCol: String,
      typeCol: String,
      tieCol: String,
      conversionType: String,
      iters: Int = 12,
      maxStates: Int = 64): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    val w = Window.partitionBy(col(userCol)).orderBy(col(timeCol), col(tieCol))
    val rows = events
      .filter(col(timeCol).isNotNull)
      .select(col(userCol).as("__u"),
        when(col(typeCol) === conversionType, lit(ConvState))
          .otherwise(col(typeCol).cast("string")).as("__st"),
        row_number().over(w).as("__rn"))
    val wu = Window.partitionBy(col("__u"))
    val kept = rows
      .withColumn("__cp", min(when(col("__st") === ConvState, col("__rn"))).over(wu))
      .filter(col("__cp").isNull || col("__rn") <= col("__cp"))
    val wk = Window.partitionBy(col("__u")).orderBy(col("__rn"))
    val inner = kept.select(
      coalesce(lag(col("__st"), 1).over(wk), lit(StartState)).as("from"),
      col("__st").as("to"))
    val lastRow = kept
      .withColumn("__mx", max(col("__rn")).over(wu))
      .filter(col("__rn") === col("__mx") && col("__cp").isNull)
      .select(col("__st").as("from"), lit(DropState).as("to"))
    val counts = inner.unionByName(lastRow)
      .groupBy(col("from"), col("to"))
      .agg(count(lit(1)).as("n"))
    val mat = counts.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    require(mat.length <= maxStates * maxStates,
      s"markovRemoval: ${mat.length} transition cells exceed the " +
        s"$maxStates-state bounded-collect contract; is typeCol really categorical?")
    // sentinel-collision guard: a REAL event type named like a chain
    // sentinel would silently merge with it (the contentChecksum
    // encoding discipline) — refuse loudly instead. mat can't tell
    // injected sentinels from data ones, so probe the source frame.
    val collisions = events
      .filter(col(typeCol).isin(StartState, ConvState, DropState) &&
        col(typeCol) =!= conversionType)
    // isEmpty, not limit(1).count(): its limit is the collect at the
    // plan's root, outside codegen, so repeated calls compile nothing new
    require(collisions.isEmpty,
      s"markovRemoval: an event type collides with a chain sentinel " +
        s"($StartState/$ConvState/$DropState); rename it upstream")
    val channels = mat.flatMap(t => Seq(t._1, t._2)).distinct
      .filterNot(Set(StartState, ConvState, DropState)).sorted
    // row-normalized probabilities, r6-pinned (the oracle's r6(n/rowsum))
    val rowSums = mat.groupBy(_._1).map { case (f, ts) => f -> ts.map(_._3).sum }
    val probs: Map[(String, String), Double] = mat.map { case (f, t, n) =>
      (f, t) -> r6d(n.toDouble / rowSums(f).toDouble)
    }.toMap
    // K forward steps from {START: 1}; DECIMAL(38,6)-exact sums of
    // r6-pinned products, exactly the arithmetic the SQL oracle's
    // staged CTEs perform.
    def pConv(removed: Option[String]): Double = {
      val transient = channels.filterNot(removed.contains) :+ StartState
      var v: Map[String, BigDecimal] = Map(StartState -> d6(1.0))
      var acc = BigDecimal(0)
      for (_ <- 1 to iters) {
        val absorbed = v.toSeq.map { case (s, p) =>
          d6(p.toDouble * probs.getOrElse((s, ConvState), 0.0))
        }.sum
        acc += absorbed
        v = transient.flatMap { t =>
          val m = v.toSeq.map { case (s, p) =>
            d6(p.toDouble * probs.getOrElse((s, t), 0.0))
          }.sum
          if (m == BigDecimal(0)) None else Some(t -> m)
        }.toMap
      }
      acc.toDouble
    }
    val pFull = r6d(pConv(None))
    val out = channels.map { c =>
      val pr = r6d(pConv(Some(c)))
      val eff = if (pFull > 0) Some(r6d(1.0 - pr / pFull)) else None
      (c, mat.filter(t => t._1 == c || t._2 == c).map(_._3).sum,
        pFull, pr, eff)
    }
    val spark = events.sparkSession
    import spark.implicits._
    out.toSeq.toDF("channel", "n_transitions", "p_full", "p_removed", "removal_effect")
  }

  /** Time-decay attribution — the recency-weighted middle ground between
    * last-touch (all credit to the final step) and linear (all steps
    * equal): each pre-conversion touch earns weight 0.5^(Δt/halfLife)
    * toward its user's FIRST conversion, normalized so every converting
    * journey distributes exactly 1.0 credit. The model marketing teams
    * actually deploy when [[markovRemoval]]/[[shapleyAttribution]] are
    * too opaque to action.
    *
    * One user-keyed window pass (conversion cutoff + journey weight
    * sum), one channel rollup; weights and credits are r6-pinned with
    * DECIMAL window/group sums, so the division and both reductions are
    * engine-replayable. Touches at the conversion instant get weight 1
    * (Δt = 0); journeys whose conversion is the first event distribute
    * nothing, visibly (they have no touches).
    *
    * Output per channel: (channel, n_touches, total_credit).
    */
  def timeDecayAttribution(
      events: DataFrame,
      userCol: String,
      timeCol: String,
      typeCol: String,
      tieCol: String,
      conversionType: String,
      halfLifeUs: Long): DataFrame = {
    require(halfLifeUs > 0, s"halfLifeUs must be positive, got $halfLifeUs")
    val w = Window.partitionBy(col(userCol)).orderBy(col(timeCol), col(tieCol))
    val rows = events
      .filter(col(timeCol).isNotNull)
      .select(col(userCol).as("__u"), col(typeCol).cast("string").as("__ty"),
        unix_micros(col(timeCol)).as("__tu"),
        row_number().over(w).as("__rn"))
    val wu = Window.partitionBy(col("__u"))
    val touches = rows
      .withColumn("__cp", min(when(col("__ty") === conversionType, col("__rn"))).over(wu))
      .withColumn("__ct", min(when(col("__ty") === conversionType, col("__tu"))).over(wu))
      .filter(col("__cp").isNotNull && col("__rn") < col("__cp"))
      .withColumn("__w", r6(pow(lit(0.5),
        (col("__ct") - col("__tu")).cast("double") / lit(halfLifeUs.toDouble))))
    val withSum = touches.withColumn("__sw",
      sum(col("__w").cast("decimal(38,6)")).over(Window.partitionBy(col("__u")))
        .cast("double"))
    withSum
      .withColumn("__credit", r6(col("__w") / col("__sw")))
      .groupBy(col("__ty").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        r6(dsum(col("__credit"))).as("total_credit"))
  }

  /** Exact Shapley-value attribution (Shapley 1953 applied to journeys,
    * à la Dalessandro et al.) — the order-free axiomatic sibling of
    * [[markovRemoval]]: credit channel c with its average marginal
    * contribution over every coalition,
    * φ_c = Σ_{S ∌ c} |S|!(k−1−|S|)!/k! · (v(S∪{c}) − v(S)), where the
    * coalition value v(S) counts CONVERTED journeys whose pre-conversion
    * channel set ⊆ S ("conversions reachable using only S"). Unlike
    * position heuristics it satisfies efficiency (Σφ = v(all channels))
    * and symmetry; unlike the Markov chain it ignores order/repetition —
    * run both, disagreement IS the finding.
    *
    * Scale shape, same contract as [[markovRemoval]]: one window pass
    * truncates each user at first conversion, one distinct+groupBy
    * builds the (channel-set → conversion count) frame — bounded by the
    * observed sets — which is collected under a LOUD k ≤ `maxChannels`
    * ≤ 16 cap (2^k subset values fit the driver trivially; a 17th
    * channel means typeCol is not categorical). v runs as a
    * subset-sum DP over 2^k masks; Shapley terms are r6-pinned doubles
    * summed as 6-scale BigDecimal — bit-replayable by the SQL oracle's
    * factorial()-weighted subset join.
    *
    * Channels are bit-indexed in SORTED order (the engine-neutral
    * canonicalization). Converted journeys with NO prior channel (the
    * conversion was the first event) raise v(∅); they add the same
    * constant to every coalition, so they earn no channel any credit —
    * visible via p_baseline.
    *
    * Output: one row per channel — (channel, shapley, share), share =
    * φ_c / v(full) when v(full) > 0 — plus the efficiency identity
    * columns (v_full, v_empty) repeated per row for auditability.
    */
  def shapleyAttribution(
      events: DataFrame,
      userCol: String,
      timeCol: String,
      typeCol: String,
      tieCol: String,
      conversionType: String,
      maxChannels: Int = 16): DataFrame = {
    require(maxChannels >= 1 && maxChannels <= 16,
      s"maxChannels must be in [1, 16], got $maxChannels — 2^k subset values " +
        "must stay a driver-trivial frame")
    val w = Window.partitionBy(col(userCol)).orderBy(col(timeCol), col(tieCol))
    val rows = events
      .filter(col(timeCol).isNotNull)
      .select(col(userCol).as("__u"), col(typeCol).cast("string").as("__t"),
        row_number().over(w).as("__rn"))
    val wu = Window.partitionBy(col("__u"))
    val conv = rows
      .withColumn("__cp", min(when(col("__t") === conversionType, col("__rn"))).over(wu))
      .filter(col("__cp").isNotNull)
    // distinct pre-conversion channels per CONVERTED user (strictly
    // before the first conversion event)
    val chans = conv.filter(col("__rn") < col("__cp"))
      .select(col("__u"), col("__t")).distinct()
    val perUser = conv.select(col("__u")).distinct()
      .join(chans.groupBy(col("__u")).agg(collect_set(col("__t")).as("__set")),
        Seq("__u"), "left")
      .select(coalesce(col("__set"), array()).as("__set"))
      .groupBy(array_sort(col("__set")).as("__key"))
      .agg(count(lit(1)).as("__conv"))
    val sets = perUser.collect()
      .map(r => (r.getSeq[String](0), r.getLong(1)))
    val channels = sets.flatMap(_._1).distinct.sorted
    val k = channels.length
    require(k <= maxChannels,
      s"shapleyAttribution: $k distinct channels exceed the maxChannels=" +
        s"$maxChannels bounded-collect contract; is typeCol really categorical?")
    val bit = channels.zipWithIndex.toMap
    val convByMask = sets.map { case (s, n) =>
      s.map(bit).foldLeft(0L)((m, b) => m | (1L << b)) -> n
    }.toMap
    // subset-sum DP: v(S) = Σ_{T ⊆ S} conv(T)
    val v = Array.tabulate(1 << k)(m => convByMask.getOrElse(m.toLong, 0L).toDouble)
    for (b <- 0 until k; m <- 0 until (1 << k)) if ((m & (1 << b)) != 0)
      v(m) += v(m ^ (1 << b))
    val factorial = new Array[Double](k + 1)
    factorial(0) = 1.0
    for (i <- 1 to k) factorial(i) = factorial(i - 1) * i
    val vFull = v((1 << k) - 1)
    val vEmpty = v(0)
    val out = channels.map { c =>
      val b = bit(c)
      var acc = BigDecimal(0)
      for (m <- 0 until (1 << k)) if ((m & (1 << b)) == 0) {
        val s = java.lang.Integer.bitCount(m)
        val weight = factorial(s) * factorial(k - 1 - s) / factorial(k)
        acc += d6(weight * (v(m | (1 << b)) - v(m)))
      }
      val phi = acc.toDouble
      (c, r6d(phi), if (vFull > 0) Some(r6d(phi / vFull)) else None,
        vFull.toLong, vEmpty.toLong)
    }
    val spark = events.sparkSession
    import spark.implicits._
    out.toSeq.toDF("channel", "shapley", "share", "v_full", "v_empty")
  }

  /** Position-based (U-shaped) attribution — the 40/20/40 industry
    * heuristic completing the attribution family: [[touchAttribution]]
    * (first/last), [[timeDecayAttribution]] (recency), [[markovRemoval]]
    * / [[shapleyAttribution]] (model-based). First and last touch
    * before the conversion earn `endWeight` each, the middle splits the
    * remainder evenly; one-touch journeys earn 1.0, two-touch journeys
    * split evenly — the standard degenerate-path conventions.
    *
    * Same scale shape as [[timeDecayAttribution]]: user-partitioned
    * windows truncate each journey at its FIRST conversion and index
    * the prior touches; credits are r6-pinned and DECIMAL-summed per
    * channel. Output per channel: (channel, n_touches, total_credit).
    */
  def positionAttribution(
      events: DataFrame,
      userCol: String,
      timeCol: String,
      typeCol: String,
      tieCol: String,
      conversionType: String,
      endWeight: Double = 0.4): DataFrame = {
    require(endWeight > 0 && endWeight <= 0.5,
      s"endWeight must be in (0, 0.5], got $endWeight")
    val w = Window.partitionBy(col(userCol)).orderBy(col(timeCol), col(tieCol))
    val rows = events
      .filter(col(timeCol).isNotNull)
      .select(col(userCol).as("__u"), col(typeCol).cast("string").as("__ty"),
        col(timeCol).as("__t"), col(tieCol).as("__tie"),
        row_number().over(w).as("__rn"))
    val wu = Window.partitionBy(col("__u"))
    val touches = rows
      .withColumn("__cp", min(when(col("__ty") === conversionType, col("__rn"))).over(wu))
      .filter(col("__cp").isNotNull && col("__rn") < col("__cp"))
    val wt = Window.partitionBy(col("__u")).orderBy(col("__t"), col("__tie"))
    val indexed = touches
      .withColumn("__ti", row_number().over(wt).cast("long"))
      .withColumn("__nt", count(lit(1)).over(Window.partitionBy(col("__u"))))
    val credit =
      when(col("__nt") === 1L, lit(1.0))
        .when(col("__nt") === 2L, lit(0.5))
        .when(col("__ti") === 1L || col("__ti") === col("__nt"), lit(endWeight))
        .otherwise(lit(1.0 - 2.0 * endWeight) / (col("__nt").cast("double") - 2.0))
    indexed
      .groupBy(col("__ty").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        r6(dsum(r6(credit))).as("total_credit"))
  }
}
