package graft.api

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Write–audit–publish: the commit protocol for dataset exports (k22's
  * shard prep, replica snapshots) — consumers must NEVER see a partial or
  * audit-failing dataset. [public: the WAP pattern popularized by
  * Netflix/Iceberg data engineering practice.]
  *
  * 1. WRITE the full output to a hidden staging dir under the target;
  * 2. AUDIT the staged files with caller-supplied checks (row counts,
  *    null rates, split balance — anything expressible over a DataFrame);
  * 3. PUBLISH by atomic directory rename on success, or leave the staged
  *    dir in place (with the failure reason) for inspection on failure —
  *    the previous published version, if any, is replaced only AFTER a
  *    clean audit, and a crash anywhere leaves either the old or the new
  *    version fully intact, never a mix.
  */
object Publish {

  /** Run the protocol. Returns Right(path) on publish, Left(reason) with
    * the staging dir retained on audit failure. `audits` return
    * Some(reason) to veto. */
  def writeAuditPublish(df: DataFrame, dir: String,
                        audits: Seq[DataFrame => Option[String]])
                       (implicit s: SparkSession): Either[String, String] = {
    val root = new java.io.File(dir)
    root.mkdirs()
    val staging = new java.io.File(root, "_staging")
    val live = new java.io.File(root, "current")
    val retired = new java.io.File(root, "_retired")
    df.write.mode(SaveMode.Overwrite).parquet(staging.getPath)
    val staged = s.read.parquet(staging.getPath)
    audits.view.flatMap(a => a(staged)).headOption match {
      case Some(reason) =>
        Left(s"audit failed, staging retained at ${staging.getPath}: $reason")
      case None =>
        // retire-then-rename: two renames, each atomic; a crash between
        // them leaves no `current` (clearly unpublished), never a mix
        def rmRec(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRec)
          f.delete(); ()
        }
        if (retired.exists()) rmRec(retired)
        if (live.exists()) require(live.renameTo(retired),
          s"could not retire previous version at $live")
        require(staging.renameTo(live), s"publish rename failed: $staging -> $live")
        rmRec(retired)
        Right(live.getPath)
    }
  }

  /** Common audits. */
  def minRows(n: Long): DataFrame => Option[String] =
    df => { val c = df.count()
            if (c >= n) None else Some(s"row count $c below floor $n") }
  def noNulls(cols: String*): DataFrame => Option[String] =
    df => {
      import org.apache.spark.sql.functions.col
      cols.flatMap { c =>
        val n = df.filter(col(c).isNull).count()
        if (n == 0) None else Some(s"column $c has $n NULLs")
      }.headOption
    }

  /** Split balance: every value of `splitCol` (k17/k22's train/val/test
    * label) must hold a share of rows within `tol` of its `expected`
    * fraction. Catches the classic silent shard-prep bug — a bad hash or
    * filter that starves one split. One hash aggregate over the staged
    * data; the per-split table on the driver is as small as the split
    * count. */
  def splitBalance(splitCol: String, expected: Map[String, Double],
                   tol: Double): DataFrame => Option[String] =
    df => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val counts = df.groupBy(col(splitCol).cast("string").as("__s"))
        .agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = counts.values.sum.toDouble
      if (total == 0) Some("split balance: staged data is empty")
      else {
        val missing = expected.keySet -- counts.keySet
        if (missing.nonEmpty) Some(s"split balance: missing splits ${missing.mkString(",")}")
        else {
          val unexpected = counts.keySet -- expected.keySet
          if (unexpected.nonEmpty)
            Some(s"split balance: unexpected splits ${unexpected.mkString(",")}")
          else expected.collectFirst {
            case (k, want) if math.abs(counts(k) / total - want) > tol =>
              f"split balance: $k share ${counts(k) / total}%.4f outside $want%.4f ± $tol%.4f"
          }
        }
      }
    }

  /** Schema contract: the staged frame must carry EXACTLY the declared
    * (name → dataType) columns — a column dropped, added, renamed, or
    * widened by an upstream change vetoes the publish instead of breaking
    * every downstream reader after the swap. Pure metadata, no job runs. */
  def schemaContract(expected: Seq[(String, String)]): DataFrame => Option[String] =
    df => {
      val actual = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
      if (actual == expected) None
      else Some(s"schema contract: expected ${expected.mkString(",")} got ${actual.mkString(",")}")
    }

  /** Distribution drift: the staged numeric column's quantile profile must
    * sit within `tol` (relative, against the reference spread) of the
    * previously-published version's. Catches upstream regressions that
    * keep the schema and row count intact but shift the data — a broken
    * tokenizer halving doc lengths, a unit change scaling revenue. Uses
    * approxQuantile sketches on both sides (one pass each, driver holds a
    * handful of doubles); compares the deciles. If there is no published
    * version yet the audit passes vacuously (first publish seeds the
    * reference). */
  def distributionDrift(colName: String, publishedDir: String, tol: Double)
                       (implicit s: SparkSession): DataFrame => Option[String] =
    df => {
      val live = new java.io.File(publishedDir, "current")
      if (!live.exists()) None
      else {
        val probs = (1 to 9).map(_ / 10.0).toArray
        val ref = s.read.parquet(live.getPath).stat
          .approxQuantile(colName, probs, 0.01)
        val cur = df.stat.approxQuantile(colName, probs, 0.01)
        // approxQuantile returns an EMPTY array when the frame is empty or
        // the column is entirely NULL — indexing it would throw out of the
        // audit and abort the publish without recording a reason; veto
        // cleanly instead, like every other audit
        if (ref.length != probs.length || cur.length != probs.length)
          Some(s"distribution drift: no quantile data for $colName " +
            s"(reference ${ref.length}/${probs.length} pts, " +
            s"staged ${cur.length}/${probs.length} pts — empty or all-NULL side)")
        else {
          // scale-free comparison: normalize gaps by the reference IQR-ish
          // spread so the same tol works for revenue and for token counts
          val spread = math.max(ref.last - ref.head, 1e-9)
          probs.indices.collectFirst {
            case i if math.abs(cur(i) - ref(i)) / spread > tol =>
              f"distribution drift: $colName p${(probs(i) * 100).toInt} moved " +
                f"${ref(i)}%.4f -> ${cur(i)}%.4f (> $tol%.3f of spread $spread%.4f)"
          }
        }
      }
    }
}
