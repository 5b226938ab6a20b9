package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation helpers (SURVEY.md §2.5) shared by the demo queries and the
  * synonymizer/NER pipelines.
  *
  * `exactSum` exists for oracle parity at any scale: summing doubles is
  * association-order-dependent, so a Spark shuffle-order sum and a DuckDB
  * sequential sum can differ in the last ulp. Casting each value to a
  * decimal first makes the sum exact and engine-independent; the final
  * cast back to double is then deterministic on both sides. The testdata
  * money/quantity columns carry ≤2 decimal digits, so scale 4 never
  * rounds; derived products get scale 8.
  */
object AggOps {

  /** Exact, engine-independent sum of a double column whose values carry
    * ≤`scale` decimal digits (the cast is then unambiguous — the value
    * sits ~1e-13 from a grid point, far from any rounding boundary, so
    * even engines with sloppy double→decimal conversion agree).
    */
  def exactSum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact sum of a·b over rows where both columns carry ≤2 decimal
    * digits: both sides scale to integer cents (unambiguous rounding),
    * the product sum is exact BIGINT arithmetic, and the final /10⁴
    * division is a single deterministic double op. Casting the raw
    * double product to a decimal instead is NOT engine-independent —
    * double→decimal conversions disagree in the last ulp across engines
    * (observed Spark-vs-DuckDB at 600k rows).
    */
  def exactProductSum(a: Column, b: Column): Column =
    (sum(round(a * 100).cast("long") * round(b * 100).cast("long"))
      .cast("double") / lit(10000.0))

  /** A1 — argmax-per-group with the engine's deterministic tie-break:
    * max count, then lexicographically largest value
    * (node_synonymizer.py:370-379; SURVEY §6.1 determinism note).
    * Returns a struct column {cnt, value} to select from after groupBy.
    */
  def argmax(value: Column, count: Column): Column =
    max(struct(count.as("cnt"), value.as("value")))

  /** A4 — longest-name-wins with deterministic tie-break (longest, then
    * lexicographically largest) (perform_NER.py:39-53; SURVEY §6.2).
    */
  def longestWins(name: Column): Column =
    max_by(name, struct(length(name), name))

  /** Per-key match map, the shape of `indication_NER_aligned` and
    * `mechanistic_intermediate_nodes` (perform_NER.py:119-134,
    * look_for_identifiers.py:86-105): map<curie, info> with sorted keys,
    * so the map is deterministic whatever the shuffle order.
    */
  def matchMap(curie: Column, info: Column): Column =
    map_from_entries(sort_array(collect_list(struct(curie, info))))

  /** Exact per-group discrete quantiles, engine-independent: the q-th
    * quantile is the value at sorted rank ceil(q*n) (ties split by
    * `tieCol`, so the picked ROW is deterministic, not just the value).
    * One output row per group: (group, n, p<q1>, p<q2>, ...).
    *
    * This is the EXACT path — one shuffle on the group key plus a
    * per-group window sort (the irreducible cost of exactness; a skewed
    * giant group sorts on one partition's worth of its key range).
    * `approx_percentile` (t-digest, mergeable map-side sketches, no
    * per-group sort) is the cheap path when ±ε is acceptable; this
    * operator is for the quantile that must be reproducible bit-for-bit
    * across engines and runs. ceil(q*n) in double is exact for n < 2^52.
    */
  def exactQuantiles(df: org.apache.spark.sql.DataFrame, groupCol: String,
                     valueCol: String, tieCol: String,
                     qs: Seq[Double] = Seq(0.5, 0.9, 0.99))
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1], got $qs")
    val ranked = df
      .withColumn("rn", row_number().over(
        Window.partitionBy(groupCol).orderBy(col(valueCol), col(tieCol)))
        .cast("long"))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(groupCol)).cast("long"))
    val qAggs = qs.map { q =>
      // BigDecimal over the shortest decimal repr: 0.99 names "p99", not
      // the double artifact "p99_00000000000001"
      val name = "p" + (BigDecimal(q.toString) * 100).underlying
        .stripTrailingZeros.toPlainString.replace(".", "_")
      max(when(col("rn") === ceil(lit(q) * col("cnt")).cast("long"),
               col(valueCol))).as(name)
    }
    ranked.groupBy(groupCol)
      .agg(max(col("cnt")).as("n"), qAggs: _*)
  }

  /** The composite order key [[tierBoundaries]] cuts on: callers build
    * the SAME struct (same field names, so struct comparisons resolve
    * without casts) to compare each row against the broadcast cut keys.
    */
  def ordKey(ordCols: Seq[Column]): Column =
    struct(ordCols.zipWithIndex.map { case (c, i) => c.as(s"o$i") }: _*)

  /** Equal-count tier CUT KEYS per group — the scale-safe replacement
    * for tiering a whole partition with one ranking window. A full
    * `row_number().over(partitionBy(group))` tiering forces every row
    * of a group through ONE reducer (tens of TB for the big language of
    * a real corpus — no group-limit rescue exists for a full tiering,
    * unlike top-k); this operator instead contracts the data to one row
    * per group holding the composite order key at each tier boundary,
    * which the caller BROADCASTS back and compares against map-side.
    *
    * Boundary semantics (matches `tier = ((rn-1)*tiers) div cnt` over
    * rows ranked 1..cnt by `ordCols` ascending, bit for bit): `b<t>` is
    * the ord key of the row at rank ceil(t·cnt/tiers)+1 — the FIRST row
    * of tier t — so a row's tier is the number of non-null boundaries
    * its own key is ≥ (ties impossible when `ordCols` ends in a unique
    * id; encode desc orders by negating). `b<t>` is null when tier t is
    * empty (cnt < tiers), which compares to 0 contributions.
    *
    * This is the exact path: it still rank-windows the (group, ord)
    * PROJECTION — two longs a row, not the full record — which is the
    * irreducible cost of exact boundaries (same stance as
    * [[exactQuantiles]]). At 100 TB use [[tierBoundariesSampled]]:
    * the same contraction over a deterministic md5 hash-sample bounded
    * near `sampleN` rows per group, cut keys ±ε (DKW), downstream
    * broadcast-compare pipeline unchanged. The bulk table never
    * passes through a per-group sort either way.
    *
    * @return one row per group: (groupCol, cnt, b1..b<tiers-1>)
    */
  def tierBoundaries(df: org.apache.spark.sql.DataFrame, groupCol: String,
                     ordCols: Seq[Column], tiers: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tiers >= 2 && tiers <= 1000, s"tiers must be in [2, 1000]")
    val ranked = df
      .select(col(groupCol), ordKey(ordCols).as("ord"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("ord"))).cast("long"))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(groupCol)).cast("long"))
    val bAggs = (1 until tiers).map { t =>
      // rank of tier t's first row: ceil(t*cnt/tiers)+1, integer-exact
      max(when(col("rn") ===
          expr(s"($t * cnt + ${tiers - 1}) div $tiers") + 1L,
        col("ord"))).as(s"b$t")
    }
    ranked.groupBy(groupCol)
      .agg(max(col("cnt")).as("cnt"), bAggs: _*)
  }

  /** The 100 TB scale path for [[tierBoundaries]]: deterministic
    * md5 hash-sample of the (group, ord) projection to ~`sampleN` rows
    * per group, exact window over the BOUNDED sample. The exact path's
    * residual cost is the per-group rank window over the projection —
    * one reducer per group, tens of TB for a real corpus' dominant
    * language; here the window's input is capped near `sampleN`
    * regardless of group size, so no task ever sees more than the
    * sample.
    *
    * Sampling predicate (row-deterministic, engine-independent —
    * encodable verbatim in SQL for the oracle, unlike
    * `approx_percentile`, whose t-digest merges are partition-order
    * sensitive): keep a row iff
    * `cnt <= sampleN  OR  hash32 < max((sampleN * 2^32) div cnt, 1)`
    * (the clamp keeps the predicate satisfiable past cnt = sampleN·2³²,
    * and the left-join in [[boundsOverSample]] guarantees a bounds row
    * per group even if the sample is empty — null boundaries = tier 0
    * downstream, never a silently dropped group), where
    * `hash32` = first 8 md5 nibbles of `sampleKey` (caller-supplied,
    * unique per row — usually the id that already ends `ordCols`) and
    * `cnt` is the group's exact count (one map-side-combinable agg,
    * broadcast back). All-integer arithmetic — no double division to
    * disagree across engines.
    *
    * Accuracy: sampled boundaries are the sample's tier-first keys.
    * Groups with `cnt <= sampleN` keep EVERY row, so their boundaries
    * are bit-identical to [[tierBoundaries]]. For sampled groups, by
    * DKW the sample CDF deviates from the group CDF by at most
    * ε = sqrt(ln(2/δ)/(2·scnt)) with prob ≥ 1−δ, so the fraction of
    * rows whose tier differs from the exact assignment is ≤
    * (tiers−1)·ε (≈3.3% per boundary at sampleN=4096, δ=10⁻³;
    * ExtensionsSpec measures the deviation). scnt itself concentrates
    * around sampleN (binomial), so the window input stays
    * sampleN + O(√sampleN) w.h.p.
    *
    * @return one row per group: (groupCol, cnt, scnt, b1..b<tiers-1>)
    *         — same b<t> schema as [[tierBoundaries]], so [[tierOf]]
    *         is unchanged downstream; `scnt` = sample size actually
    *         windowed (diagnostic).
    */
  def tierBoundariesSampled(df: org.apache.spark.sql.DataFrame,
                            groupCol: String, ordCols: Seq[Column],
                            tiers: Int, sampleKey: Column,
                            sampleN: Int = 4096)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tiers >= 2 && tiers <= 1000, s"tiers must be in [2, 1000]")
    require(sampleN >= tiers && sampleN <= (1 << 22),
      s"sampleN must be in [tiers, 2^22], got $sampleN")
    val proj = df.select(col(groupCol), ordKey(ordCols).as("ord"),
      sampleKey.cast("string").as("sk"))
    val cnts = proj.groupBy(groupCol)
      .agg(count(lit(1)).cast("long").as("cnt"))
    val hash32 =
      conv(substring(md5(col("sk")), 1, 8), 16, 10).cast("long")
    // Keep threshold clamped to >= 1: at cnt > sampleN·2³² the raw
    // integer quotient is 0 and a group would sample NOTHING — and a
    // group with no bounds row silently vanishes from downstream
    // inner joins. The clamp keeps the predicate satisfiable
    // (hash32 = 0 rows qualify) and boundsOverSample's left join
    // guarantees the row regardless.
    val sampled = proj
      .join(broadcast(cnts), groupCol)
      .filter(col("cnt") <= lit(sampleN.toLong) ||
        hash32 < greatest(
          expr(s"(${sampleN.toLong} * 4294967296L) div cnt"), lit(1L)))
    boundsOverSample(cnts, sampled, groupCol, tiers)
  }

  /** Bounds aggregation over an already-sampled (groupCol, ord) frame,
    * LEFT-joined back to the exact counts so EVERY group emits a row
    * even when its sample came up empty (possible at extreme counts:
    * the clamped keep threshold of 1 admits only hash32 = 0 rows) —
    * all-null boundaries, which [[tierOf]] reads as tier 0, instead of
    * the group silently disappearing through a downstream inner join.
    * [[tierBoundaries]] by contrast always emits one row per group;
    * this preserves that contract on the sampled path.
    */
  private[graft] def boundsOverSample(cnts: org.apache.spark.sql.DataFrame,
                                      sampled: org.apache.spark.sql.DataFrame,
                                      groupCol: String, tiers: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = sampled
      .withColumn("srn", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("ord"))).cast("long"))
      .withColumn("scnt", count(lit(1)).over(
        Window.partitionBy(groupCol)).cast("long"))
    val bAggs = (1 until tiers).map { t =>
      max(when(col("srn") ===
          expr(s"($t * scnt + ${tiers - 1}) div $tiers") + 1L,
        col("ord"))).as(s"b$t")
    }
    val agged = ranked.groupBy(groupCol)
      .agg(max(col("scnt")).as("scnt"), bAggs: _*)
    cnts.join(agged, Seq(groupCol), "left")
      .withColumn("scnt", coalesce(col("scnt"), lit(0L)))
  }

  /** Map-side tier assignment against [[tierBoundaries]] output (joined
    * in, normally via broadcast): the count of boundary keys at or
    * below this row's key. Null boundaries (empty tiers) contribute 0.
    */
  def tierOf(ordCols: Seq[Column], tiers: Int): Column = {
    val key = ordKey(ordCols)
    (1 until tiers)
      .map(t => coalesce((key >= col(s"b$t")).cast("int"), lit(0)))
      .reduce(_ + _)
  }
}
