package graft.ops

import org.apache.spark.sql.Dataset

/** Registry for caches persisted *inside* operators whose lifetime must
  * extend to the consumer's materialization — the operator can't unpersist
  * them itself without recomputing its own output (e.g. the range-
  * partitioned cache backing BH q-values).
  *
  * Entry points that materialize query results (Verify, Bench, a
  * long-lived serving session) call [[drain]] after each query so caches
  * never accumulate across queries. Operators that CAN release eagerly
  * (cleanup thunks) still do — draining an already-unpersisted dataset is
  * a harmless no-op.
  */
object Caches {
  private val bag = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  def register[T <: Dataset[_]](ds: T): T =
    synchronized { bag += (() => ds.unpersist()); ds }

  def drain(): Unit = synchronized {
    bag.foreach(f => scala.util.Try(f()))
    bag.clear()
  }

  /** DRAIN-IMMUNE handoff of a computed state to a lazily-read returned
    * plan: round-trips through a scratch parquet and — when the source
    * was localCheckpoint'ed — releases its blocks IMMEDIATELY (the
    * write has fully consumed it). Final iterates handed to consumers
    * go through here, never through [[register]]: a registered checkpoint
    * would be released by ANY caller's [[drain]], and once the lineage is
    * truncated the reader cannot recompute — it crashes with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND under concurrent queries on one
    * session (ConcurrencySpec). A parquet read needs no cache entry at
    * all; the scratch generations are reaped with an age grace
    * (Scratch.subTagged), so the write leaks neither blocks nor tmpfs.
    * Intermediate iterates inside solver loops stay on the
    * eager-checkpoint + inline-release pattern — they are never visible
    * to drain. The read-back carries `df`'s schema, so it runs no
    * footer-inference job.
    */
  def parquetHandoff(df: org.apache.spark.sql.DataFrame, tag: String,
      released: Boolean = true): org.apache.spark.sql.DataFrame = {
    val p = graft.io.Scratch.subTagged(tag)
    df.write.mode("overwrite").parquet(p)
    if (released) releaseLocalCheckpoint(df)
    df.sparkSession.read.schema(df.schema).parquet(p)
  }

  /** [[parquetHandoff]] for TWO same-schema frames in ONE write job:
    * the union is tagged and written partitionBy the tag, each side
    * reads back its own partition directory (flat files — the tag
    * lives in the directory name, not the footers). One write replaces
    * two when both frames derive from one persisted parent (the scd2
    * fold's next-state + closed-log pair). An empty side (its
    * directory never created) reads back as an empty frame of the same
    * schema.
    */
  def parquetHandoff2(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, tag: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val p = graft.io.Scratch.subTagged(tag)
    a.withColumn("__ho", org.apache.spark.sql.functions.lit("a"))
      .unionByName(b.withColumn("__ho",
        org.apache.spark.sql.functions.lit("b")))
      .write.partitionBy("__ho").mode("overwrite").parquet(p)
    val spark = a.sparkSession
    def side(sub: String, schema: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.DataFrame =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(p, sub)))
        spark.read.schema(schema).parquet(s"$p/$sub")
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    (side("__ho=a", a.schema), side("__ho=b", b.schema))
  }

  /** The one reader of a table the program materializes for itself:
    * `frame` is written once per (tag, key) by [[standingParquet]] and
    * read back with `frame`'s schema, so no read runs a footer-inference
    * job; a second scan re-reads the parquet. `frame` is a by-value
    * argument, so it is analysed BEFORE the memo is entered: a
    * computeIfAbsent build must not update other mappings of the same
    * ConcurrentHashMap (recursive-update IllegalStateException when the
    * keys share a bin), so a frame that reads another standing table
    * resolves it first.
    */
  def readStanding(tag: String, key: String,
      frame: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = standingParquet(tag, key) { p =>
      frame.write.mode("overwrite").parquet(p)
    }
    frame.sparkSession.read.schema(frame.schema).parquet(p)
  }

  private val standingBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Materializes a derivation ONCE per (tag, key) as a standing
    * parquet and returns its path — the standing-table memo shared by
    * the warehouse layer's state builders and the Hi-C fixture views.
    * Use when the derivation is an INPUT a production deployment reads
    * from disk (a contact map, a fragments file, a maintained state
    * table), not work the calling query claims: at corpus scale the
    * re-synthesis per query is exactly the redundant pass a standing
    * table exists to avoid.
    *
    * Two scopes:
    *  - default: once per JVM into per-JVM scratch (reaped at exit) —
    *    the safe harness setting, immune to fixture regeneration
    *    between rounds;
    *  - `SPARK_GRAFT_STANDING_ROOT=<dir>`: once per CLUSTER into a
    *    shared durable root, PUBLISHED through the commit log — the
    *    deployment shape. The build stages into a run-unique dir and
    *    CAS-commits v0; a second session attaches to the committed
    *    snapshot instead of rebuilding, a build race has exactly one
    *    publisher (the loser reaps its staging and attaches), and a
    *    crashed build never half-publishes (its staging is never
    *    referenced; [[vacuumStanding]] reclaims it). The slug carries
    *    a FINGERPRINT of the source directory (name/mtime/size of its
    *    parquet files), so a shared root can never serve a table built
    *    from since-regenerated inputs — staleness invalidates by key,
    *    not by trust.
    */
  def standingParquet(tag: String, key: String)(
      build: String => Unit): String =
    standingBuilt.computeIfAbsent(
      tag + "_" + key.replaceAll("[^a-zA-Z0-9.-]", "_"), { _ =>
        sys.env.get("SPARK_GRAFT_STANDING_ROOT") match {
          case Some(root) if root.nonEmpty =>
            durableStanding(root, tag, key)(build)
          case _ =>
            val p = graft.io.Scratch.stable(tag + "_" +
              Integer.toHexString(key.hashCode))
            build(p)
            p
        }
      })

  /** Content fingerprint of `key` when it names a directory of parquet
    * inputs: every file's (name, mtime, length) folded into one hash.
    * A regenerated fixture dir (same path, new bytes) changes the
    * fingerprint and therefore the standing slug.
    */
  private def inputFingerprint(key: String): String = {
    val f = new java.io.File(key)
    val h =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .foldLeft(17L)((a, p) => ((a * 31 + p.getName.hashCode) * 31 +
            p.lastModified()) * 31 + p.length())
      else key.hashCode.toLong
    java.lang.Long.toHexString(h)
  }

  private[graft] def durableStanding(root: String, tag: String,
      key: String)(build: String => Unit): String = {
    val slug = s"$root/${tag}_" +
      Integer.toHexString(key.hashCode) + "_" + inputFingerprint(key)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(slug))
    def attach(): Option[String] =
      graft.io.CommitLog.headSnapshot(slug).map { case (_, d) =>
        println(s"[standing] attached $tag for $key at $slug/$d")
        s"$slug/$d"
      }
    attach().getOrElse {
      val stage = "t_" + java.util.UUID.randomUUID().toString.take(8)
      build(s"$slug/$stage")
      if (graft.io.CommitLog.tryCommit(slug, -1, stage)) {
        println(s"[standing] built+published $tag for $key at " +
          s"$slug/$stage")
        s"$slug/$stage"
      } else {
        // a concurrent session published first: its snapshot is the
        // table (deterministic build — same content); ours is staging
        // residue, reaped here
        graft.io.Scratch.reap(s"$slug/$stage")
        attach().getOrElse(sys.error(
          s"standing CAS lost under $slug but no head resolved"))
      }
    }
  }

  /** Reclaims never-committed staging dirs under a durable standing
    * root — crash residue from builds that died before their CAS.
    * Operator-invoked with an explicit retention, like the state and
    * index VACUUMs: the caller asserts no build older than
    * `olderThanMs` is still staging.
    */
  def vacuumStanding(root: String,
      olderThanMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val now = System.currentTimeMillis()
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq
      .filter(_.isDirectory)
      .flatMap { slug =>
        val committed = graft.io.CommitLog.versions(slug.getPath)
          .map(_._2).toSet ++
          graft.io.CommitLog.headSnapshot(slug.getPath).map(_._2)
        Option(slug.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter { d =>
            d.isDirectory && d.getName.startsWith("t_") &&
              !committed.contains(d.getName) &&
              now - d.lastModified() > olderThanMs
          }
          .map { d =>
            graft.io.Scratch.reap(d.getPath)
            s"${slug.getName}/${d.getName}"
          }
      }
  }

  /** Free the blocks behind a localCheckpoint'ed Dataset. A plain
    * `ds.unpersist()` is a no-op there: the persisted RDD is the internal
    * checkpoint RDD wrapped by the plan's `LogicalRDD` leaf, not a cache
    * entry on the Dataset itself — so iterative loops that checkpoint per
    * round (BPE, KR, connected components) would otherwise leak one table
    * per round until RDD GC.
    */
  def releaseLocalCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
