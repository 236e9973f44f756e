package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** U2 — upsert/merge refresh (`/root/reference/src/log_handler.py:99-128`):
  * published rows that are unchanged stay, everything else is replaced by
  * the incoming snapshot; output schema is harmonized to all-string and
  * sorted by the (stringified) id — faithful to the reference's
  * stringify-then-concat-then-sort.
  *
  * Scale posture: `unchangedIds` is usually a large fraction of the
  * table, so it is NOT broadcast — the semi/anti joins are shuffle joins
  * on the PK and AQE may downgrade them to broadcast only when the id set
  * is provably small.
  */
object MergeOps {

  private val Sfx = "_b"

  private val log = org.apache.log4j.Logger.getLogger(getClass)

  /** J2 — ids whose audit columns are unchanged between snapshots.
    * Null-sensitive on purpose: `!(a =!= b)` is null when either side is
    * null, and `filter` drops null predicates — so a null in an audit
    * column means "changed" (log_handler.py:102-104, P22 semantics).
    */
  def unchangedIds(a: DataFrame, b: DataFrame, idCol: String,
      auditCols: Seq[String]): DataFrame = {
    val bRen = b.toDF(b.columns.map(c => if (c == idCol) c else c + Sfx).toIndexedSeq: _*)
    a.join(bRen, Seq(idCol), "inner")
      .filter(auditCols.map(c => !(col(c) =!= col(c + Sfx))).reduce(_ && _))
      .select(col(idCol))
      .distinct() // A1
  }

  /** U2 — the full merge: semi (J3) ∪ anti (J4), stringified (P20),
    * sorted by id (O2), computed as ONE full-outer join.
    *
    * `idCol` is the snapshot PK (the reference upsert contract,
    * log_handler.py:99-128 — one row per id per snapshot), so the
    * semi ∪ anti decomposition collapses to a per-id classification:
    * both present and audit-unchanged → the published row; incoming
    * present otherwise → the incoming row; published only → dropped.
    * The r15 shape shuffled each snapshot TWICE (change-detect join,
    * then the semi/anti join against the materialized unchanged-id
    * set); this shape shuffles each exactly once — the §2.4 "remove
    * shuffles outright" rewrite — with the same null-sensitive change
    * predicate (a null audit value means "changed", P22) and the same
    * lexicographic sort on the stringified id.
    */
  def tableUpdated(a: DataFrame, b: DataFrame, idCol: String,
      auditCols: Seq[String]): DataFrame = {
    // Q3 — dimension-mismatch warning (log_handler.py:45-46)
    if (a.columns.length != b.columns.length)
      log.warn(s"merge: snapshots have different widths " +
        s"(${a.columns.length} vs ${b.columns.length})")
    val bRen = b.toDF(b.columns.map(c => if (c == idCol) c else c + Sfx).toIndexedSeq: _*)
    val j = a.withColumn("__in_a", lit(1))
      .join(bRen.withColumn("__in_b", lit(1)), Seq(idCol), "full_outer")
    // null-id rows never pair in the join: a-side ones drop (same as
    // the semi join), b-side ones are kept (same as the anti join)
    val unchanged = coalesce(col("__in_a") === 1 && col("__in_b") === 1 &&
      auditCols.map(c => !(col(c) =!= col(c + Sfx))).reduce(_ && _), lit(false))
    val out = a.columns.map { c =>
      if (c == idCol) CleanOps.stringify(col(c), j.schema(c).dataType).as(c)
      else when(unchanged, CleanOps.stringify(col(c), a.schema(c).dataType))
        .otherwise(CleanOps.stringify(col(c + Sfx), bRen.schema(c + Sfx).dataType))
        .as(c)
    }
    j.filter(unchanged || col("__in_b") === 1)
      .select(out.toIndexedSeq: _*)
      .orderBy(col(idCol))
  }
}
