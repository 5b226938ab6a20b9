package graft.stage2

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.constants.Constants
import graft.ops.StringOps
import graft.synonymizer.Synonymizer

/** Stage 2 — identifier alignment (look_for_identifiers.py:40-112;
  * SURVEY §3 EP2): align bioentity NAMES via synonymizer name lookup and
  * bare ID SUFFIXES via the 15-regex detector fan-out (R1), merging into
  * `mechanistic_intermediate_nodes`.
  *
  * The reference's first-wins insert (look_for_identifiers.py:86-89,
  * 102-105) stores the canonical triple keyed by preferred_curie; since
  * the stored value is fully determined by the curie, first-wins merge ≡
  * set-union — the engine uses `distinct`, which is order-independent and
  * therefore deterministic (SURVEY §6 note).
  *
  * Scale notes: lookups go through Synonymizer (probe-side broadcast
  * joins); the R1 detector dim is 15 literal rows constant-folded by
  * Catalyst; per-key results dedup before the merge so the final distinct
  * shuffles only matched triples.
  */
final class IdentifierAlignment(syn: Synonymizer) {

  /** Names branch (look_for_identifiers.py:76-89). Input: (key, name).
    * Output: (key, preferred_curie, name, category) — matched only.
    */
  def alignNames(names: DataFrame): DataFrame = {
    val lookups = syn.canonicalCuriesByName(
        names.select(col("name").as("input")).distinct())
      .filter(col("preferred_curie").isNotNull)
    names.join(lookups, names("name") === lookups("input"))
      .select(col("key"), col("preferred_curie"),
              col("preferred_name").as("name"),
              col("preferred_category").as("category"))
      .distinct()
  }

  /** IDs branch (look_for_identifiers.py:90-105 + 19-38): only bare
    * suffixes (no ':', look_for_identifiers.py:96) run the 15 unanchored
    * detectors; each firing detector contributes candidate
    * `prefix + ':' + ENTIRE input` (the reference's deliberate quirk,
    * look_for_identifiers.py:30-31), resolved as curies.
    * Input: (key, id). Output: (key, preferred_curie, name, category).
    */
  def alignIds(ids: DataFrame): DataFrame = {
    import ids.sparkSession.implicits._
    val detectors = Constants.IdDetectors.toDF("db_name", "prefix", "pattern")
    val candidates = ids
      .filter(!col("id").contains(":"))
      .crossJoin(broadcast(detectors))
      .filter(regexp_like(col("id"), col("pattern")))
      .select(col("key"),
              StringOps.curieCandidate(col("prefix"), col("id"))
                .as("candidate"))
      .distinct()
    val lookups = syn.canonicalCuriesByCurie(
        candidates.select(col("candidate").as("input")).distinct())
      .filter(col("preferred_curie").isNotNull)
    candidates.join(lookups, candidates("candidate") === lookups("input"))
      .select(col("key"), col("preferred_curie"),
              col("preferred_name").as("name"),
              col("preferred_category").as("category"))
      .distinct()
  }

  /** Merge both branches into the per-key mechanistic node set
    * (look_for_identifiers.py:71-105). Output long form:
    * (key, preferred_curie, name, category).
    */
  def mechanisticNodes(names: DataFrame, ids: DataFrame): DataFrame =
    alignNames(names).unionByName(alignIds(ids)).distinct()
}
