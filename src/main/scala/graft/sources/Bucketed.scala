package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table plumbing for co-located joins.
  *
  * The reference's biggest repeated join is new-vs-existing variants on
  * the natural key (`VariantLoad3.saveVariants:483-532` — rebuilt as an
  * in-memory hash map per chromosome, capped by one JVM's heap). At
  * 100 TB the existing-variants side is far too large to broadcast and
  * re-shuffling it on every incremental load wave is the dominant cost:
  * both sides of every load-wave join pay a full shuffle.
  *
  * Bucketing is the standing answer: write the persistent table once,
  * hash-bucketed (and sorted) by the join key. Every subsequent join
  * against a table bucketed on the same key with the same bucket count
  * — or against a freshly shuffled small side — reads bucket files
  * whose partitioning Catalyst recognizes (`HashPartitioning` reported
  * by the scan), so the sort-merge join plans with NO Exchange on the
  * bucketed side(s): the shuffle is paid once at write time, amortized
  * over every future load wave. Bucket count sizes the parallelism:
  * pick `tableBytes / ~256 MB` at write time.
  *
  * `BucketedJoinSpec` asserts the zero-exchange plan.
  */
object Bucketed {

  /** Write `df` as a managed parquet table bucketed and sorted by
    * `keys` — the once-per-table shuffle that makes all later joins on
    * `keys` exchange-free. Pass `path` to pin the table's files to an
    * external location (the catalog entry still carries the bucket
    * spec, which is what the planner reads).
    *
    * Parallelism note: the pre-write repartition caps
    * write parallelism at the bucket count and funnels every row of a
    * hash-colliding key set through one task (sort + write spill risk
    * for a large table with few buckets). That is the intended
    * production trade — the bucket count is a CAPACITY parameter
    * chosen as tableBytes / ~256 MB at write time, so one task per
    * bucket IS the target file size; a table that outgrows it is
    * rewritten at a higher count via [[compact]] (the
    * IndexBucketsGrowthSpec contract). Callers writing a large frame
    * into deliberately few buckets should grow the bucket count, not
    * skip the repartition. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String], mode: String = "overwrite",
                    path: Option[String] = None): Unit = {
    // (guide §6 file sizing) repartition by the bucket keys into
    // exactly `buckets` partitions before the write. Spark's bucket id
    // (pmod(Murmur3(keys), buckets)) is the same mapping as this
    // HashPartitioning, so each task then holds exactly one bucket and
    // the write emits ONE file per bucket (per append) instead of
    // (upstream partitions x buckets) small files — without it a
    // 32-partition frame wrote up to 32 files per bucket, paying
    // task-commit overhead per file at write time and open/list
    // overhead on every later bucket scan. At production scale the
    // bucket count is chosen as tableBytes / ~256 MB, so one-task-per-
    // bucket is also the intended output file size.
    import org.apache.spark.sql.functions.col
    val w = df.repartition(buckets, keys.map(col): _*)
      .write.mode(mode).format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Replace the contents of a path-backed bucketed table with `df`
    * (which may — and normally does — read the table's CURRENT files)
    * under a possibly-new bucket spec, staged crash-safely:
    *
    *  1. `df` is written as a staging table at a sibling path — this
    *     reads the OLD file set and writes a NEW location, so there is
    *     no read-own-files hazard and no point at which the data
    *     exists only in executor memory (a localCheckpoint between
    *     drop and rewrite would lose the index on a crash there);
    *  2. only once the staged file set is complete on disk are the old
    *     catalog entries dropped, the old files deleted, and the
    *     staged directory renamed into place (Hadoop FileSystem API,
    *     so the same sequence works on HDFS/S3A);
    *  3. the catalog entry is re-created over the renamed files with
    *     the new bucket spec (bucket ids live in the file NAMES, which
    *     the rename preserves).
    *
    * At every step the full table exists at the live path or the
    * staging path; the only crash window is the catalog ENTRY between
    * the DROP and the CREATE, which is rebuildable from either file
    * set — and on a real metastore steps 2-3 collapse into one atomic
    * rename swap so readers never observe the gap. */
  def replaceWith(spark: org.apache.spark.sql.SparkSession, table: String,
                  df: DataFrame, buckets: Int, keys: Seq[String],
                  p: String): Unit = {
    import org.apache.hadoop.fs.Path
    val stagingTable = s"${table}_staging"
    val stagingPath = s"${p}_staging"
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
    fs.delete(new Path(stagingPath), true)
    val ddl = df.schema.toDDL
    writeBucketed(df, stagingTable, buckets, keys, path = Some(stagingPath))
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"DROP TABLE $stagingTable")
    fs.delete(new Path(p), true)
    require(fs.rename(new Path(stagingPath), new Path(p)),
      s"rename $stagingPath -> $p failed; staged file set left intact")
    attach(spark, table, ddl, buckets, keys, p)
  }

  /** Create the catalog entry `table` (columns `ddl`, bucketed and
    * sorted by `keys` into `buckets`) over the parquet files at `path`,
    * and refresh the path so later reads see them. */
  def attach(spark: org.apache.spark.sql.SparkSession, table: String, ddl: String,
             buckets: Int, keys: Seq[String], path: String): Unit = {
    val cols = keys.mkString(", ")
    spark.sql(s"CREATE TABLE $table ($ddl) USING PARQUET " +
      s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO $buckets BUCKETS " +
      s"LOCATION '$path'")
    spark.catalog.refreshByPath(path)
  }

  /** Compact a bucketed table: rewrite it under a fresh bucket spec,
    * collapsing the one-file-set-per-append accumulation back to one
    * file set and (optionally) changing the bucket count.
    *
    * The maintenance job for append-grown tables ([[EpochStore.compact]]
    * — q110, q122, q136 — plus `BucketedJoinSpec` and
    * `IndexBucketsGrowthSpec`): every `mode="append"` write lands its
    * own file set per bucket, so after E epochs each bucket scan opens
    * E files; and the bucket count itself is a capacity parameter
    * ([[graft.functions.DedupConfig.IndexBuckets]]) that the corpus
    * eventually outgrows. One paid shuffle here restores single-file
    * buckets at the new parallelism, after which every subsequent join
    * on `keys` is exchange-free again — identical rows, identical
    * downstream plans. Run it at an epoch barrier, where the table is
    * frozen by construction. `path` is required: compaction always
    * goes through the crash-safe staged swap ([[replaceWith]]), so at
    * no point does the table exist only in executor memory (a
    * localCheckpoint between drop and rewrite would lose the table on
    * a crash there). */
  def compact(spark: org.apache.spark.sql.SparkSession, table: String,
              buckets: Int, keys: Seq[String], path: String): Unit =
    replaceWith(spark, table, spark.table(table), buckets, keys, path)

  /** A persistent index that grows by epochs: a named, ordered set of
    * path-backed bucketed tables, `(name, keys)` each, stored at
    * `root/name`. Both dedup index kinds are built on it: the MinHash index
    * (`(bands, docs)`, [[graft.operators.MinhashIndex]]) and the
    * embedding cell index (`(vecs)`, [[graft.operators.SemanticIndex]]),
    * and so is the strain loader's variant store
    * ([[graft.operators.StrainLoader.variantStore]]). It is the
    * verify-before-insert store of `VariantLoad3.saveVariants:479-589`,
    * kept on disk across waves.
    *
    * Constructing a store touches nothing, so a reader can attach to a
    * store another job left behind. The lifecycle rules live here once:
    *
    *  - Order: [[commit]] appends in declared order; [[retract]] and
    *    [[replace]] rewrite in reverse order. Declare the table a
    *    lookup starts from first and the table it verifies against
    *    last. A crash part-way through any of them then leaves only
    *    extra lookup rows — the verify's join drops them and a retry
    *    completes the operation — never an entry no lookup can reach.
    *  - Bucket count: [[commit]] and [[retract]] read each table's
    *    current count from its catalog bucket spec, so a stale count
    *    can never re-spec a table after a [[compact]]. Only [[seed]],
    *    [[compact]] and [[replace]] take one.
    *  - Refresh: [[seed]] and [[commit]] refresh every path afterwards
    *    ([[replaceWith]] refreshes its own), so later reads in the
    *    session see the new file sets. */
  final case class EpochStore(spark: org.apache.spark.sql.SparkSession,
                              root: String,
                              tables: Seq[(String, Seq[String])]) {

    val names: Seq[String] = tables.map(_._1)

    def path(table: String): String = s"$root/$table"

    /** The table's current bucket count, from its catalog entry. */
    def buckets(table: String): Int =
      spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .bucketSpec.map(_.numBuckets)
        .getOrElse(sys.error(s"$table has no bucket spec"))

    /** Start over: drop each table's catalog entry, delete its
      * directory (nothing else under `root`) and write it from its
      * frame, one frame per table in declared order. */
    def seed(buckets: Int, frames: DataFrame*): Unit = {
      import org.apache.hadoop.fs.Path
      val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      zipped(frames).foreach { case ((t, keys), df) =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        fs.delete(new Path(path(t)), true)
        writeBucketed(df, t, buckets, keys, path = Some(path(t)))
      }
      refresh()
    }

    /** Append one frame per table, in declared order. */
    def commit(frames: DataFrame*): Unit = {
      zipped(frames).foreach { case ((t, keys), df) =>
        writeBucketed(df, t, buckets(t), keys, mode = "append", path = Some(path(t)))
      }
      refresh()
    }

    /** Drop from every table the rows whose value in the tombstone
      * frame's one column is listed (every table carries that column). */
    def retract(tombstones: DataFrame): Unit = {
      require(tombstones.columns.length == 1,
        s"tombstones need exactly one column, got ${tombstones.columns.mkString(", ")}")
      val key = tombstones.columns.head
      replaceEach(names.map(t =>
        spark.table(t).join(tombstones, Seq(key), "left_anti")))(buckets)
    }

    /** Replace each table's rows with its frame, which may read the
      * table, at `buckets`. */
    def replace(buckets: Int, frames: DataFrame*): Unit =
      replaceEach(frames)(_ => buckets)

    /** Compact every table to one file set per bucket at `buckets`. */
    def compact(buckets: Int): Unit =
      tables.foreach { case (t, keys) =>
        Bucketed.compact(spark, t, buckets, keys, path(t))
      }

    private def zipped(frames: Seq[DataFrame]): Seq[((String, Seq[String]), DataFrame)] = {
      require(frames.size == tables.size,
        s"${frames.size} frames for tables ${names.mkString(", ")}")
      tables.zip(frames)
    }

    private def replaceEach(frames: Seq[DataFrame])(count: String => Int): Unit =
      zipped(frames).reverse.foreach { case ((t, keys), df) =>
        replaceWith(spark, t, df, count(t), keys, path(t))
      }

    private def refresh(): Unit = names.foreach(t => spark.catalog.refreshByPath(path(t)))
  }
}
