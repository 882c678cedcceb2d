package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Collection persistence + discovery (SURVEY §2.1 S1-S5, S10): a
  * collection is a parquet directory plus a `config.json` sidecar — the
  * Spark-native form of the reference's index.bin/metadata.json/config.json
  * layout (vectordb.py:269-332).
  *
  * Parquet already IS the reference's "binary columnar" format (S4/S5:
  * magic + header + contiguous float32 block, binary_persistence.py:70-193)
  * with compression, statistics, and predicate pushdown on top; the
  * streaming writer (S6/S7) is `df.writeStream.format("parquet")` on the
  * same directory.
  */
object Collections {

  // ---------------------------------------------- scheme-aware sidecar IO
  //
  // Every sidecar touch (config.json, stats.json, model markers) goes
  // through the Hadoop FileSystem OF THE TARGET PATH, like swapWrite: a
  // collection may live on s3a://, hdfs://, or file:/ and java.nio would
  // either crash on the URI or silently operate on a nonexistent local
  // path. Writes are tmp + overwrite-rename (FileContext), so a crash
  // mid-write never leaves a torn sidecar visible AND a reader racing the
  // write sees old-or-new, never missing.

  private def fsOf(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  def pathExists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    fsOf(p).exists(p)
  }

  def writeString(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.tmp")
    val fs = fsOf(p)
    fs.mkdirs(p.getParent)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // old-or-new visibility: overwrite-rename via FileContext keeps the
    // target continuously present (a crash or concurrent reader between a
    // delete and a rename would otherwise see NO sidecar — exists() on
    // config/stats/model markers must never transiently report missing)
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri,
        SparkSession.active.sparkContext.hadoopConfiguration)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case e: Exception =>
        // filesystems without FileContext overwrite-rename (some object
        // stores): fall back to delete+rename — weaker (a crash between
        // the two leaves a missing-file window) but never torn
        if (fs.exists(tmp)) {
          fs.delete(p, false) // HDFS rename onto an existing file fails
          require(fs.rename(tmp, p), s"rename $tmp -> $p failed: ${e.getMessage}")
        } else {
          // tmp gone without a successful rename: only report success if
          // the target actually HOLDS the new content — mere existence
          // could be the OLD sidecar, silently dropping this write
          val landed = fs.exists(p) &&
            (try readString(path) == content catch { case _: Exception => false })
          if (!landed) throw new java.io.IOException(
            s"rename $tmp -> $p failed and the target does not hold the " +
              s"new content: ${e.getMessage}", e)
        }
    }
  }

  def readString(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = fsOf(p).open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Delete a file or directory tree if present (idempotent). */
  def deleteIfExists(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(p)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Per-collection config mirroring CollectionConfig (vectordb.py:220-229)
    * plus the embedding PROVIDER name, recorded like the reference records
    * its model in collection config (vectordb.py:322-332) — a reopened
    * collection embeds queries with the provider that embedded its corpus. */
  final case class Config(name: String, dimensions: Int, metric: String,
                          embedder: String = "mock")

  private def configPath(dir: String) = s"$dir/config.json"

  /** Create (or reset) a collection: `df` as its base, the config, and a
    * manifest with no generations. */
  def save(df: DataFrame, dir: String, config: Config): Unit = {
    df.write.mode("overwrite").parquet(s"$dir/data")
    val json =
      s"""{"name": "${config.name}", "dimensions": ${config.dimensions}, "metric": "${config.metric}", "embedder": "${config.embedder}"}"""
    writeString(configPath(dir), json)
    writeManifest(dir, Manifest(0L, 0L, df.schema.json, Vector.empty))
  }

  def loadConfig(dir: String): Config = {
    val raw = readString(configPath(dir))
    def opt(k: String): Option[String] =
      s""""$k"\\s*:\\s*("([^"]*)"|[0-9]+)""".r.findFirstMatchIn(raw)
        .map(m => Option(m.group(2)).getOrElse(m.group(1)))
    def field(k: String): String = opt(k)
      .getOrElse(throw new IllegalArgumentException(s"missing $k in config"))
    Config(field("name"), field("dimensions").toInt, field("metric"),
      // absent in configs written before providers were pluggable
      opt("embedder").getOrElse("mock"))
  }

  /** Monotonic per-collection mutation counter (`$dir/_mutations`): every
    * committed CRUD write bumps it, and the resident packed indexes stamp
    * the value they were built against, so a query through a handle whose
    * resident state predates another handle's (or process's) mutation is
    * DETECTED with one driver-side file read instead of silently serving
    * stale results — the distributed stand-in for the reference's
    * single-process RLock (vectordb.py:245), which makes this race
    * unrepresentable there. 0 before the first mutation (a legacy
    * collection without the file reads as 0, so upgrades start clean).
    *
    * Concurrency note: the bump is read+1+rename, not an atomic CAS —
    * two writers interleaving inside one bump window can alias a count.
    * The guard targets the documented failure mode (sequential mutations
    * through different handles/sessions); truly concurrent multi-writer
    * CRUD needs an external coordinator regardless, because the data-dir
    * swap itself is last-writer-wins. */
  def readMutationCount(spark: SparkSession, dir: String): Long =
    readCounter(spark, s"$dir/_mutations")

  /** Bump [[readMutationCount]] via temp + rename (a crash mid-bump
    * leaves the previous value, never a torn file). Returns the new
    * count. */
  def bumpMutationCount(spark: SparkSession, dir: String): Long =
    bumpCounter(spark, s"$dir/_mutations")

  private def readCounter(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  private def bumpCounter(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val tmp = new Path(s"$path.tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = readCounter(spark, path) + 1L
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, p)) { // HDFS: rename onto existing file fails
      fs.delete(p, false)
      fs.rename(tmp, p)
    }
    next
  }

  /** Overwrite `dir` with `result` via a temp-dir + rename swap — safe
    * when the plan READS the same files it replaces. Swap order keeps
    * every crash window recoverable: the previous dir is renamed aside
    * (not deleted) before the new one moves in, and only deleted once the
    * swap has succeeded. A crash between the two renames leaves `dir`
    * missing and `${dir}_old` holding the only committed copy;
    * [[recoverSwap]] renames it back, here and before every read of a
    * swapped relation. */
  def swapWrite(result: DataFrame, dir: String,
                partitionCols: Seq[String] = Nil,
                format: String = "parquet"): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = result.sparkSession
    val tmpPath = new Path(s"${dir}_tmp")
    val dataPath = new Path(dir)
    val oldPath = new Path(s"${dir}_old")
    // FileSystem of the TARGET path, not the default FS — the dir may
    // live on a non-default scheme (s3a://, hdfs://...).
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(dir)
    val w = result.write.mode("overwrite")
    val pw = if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
    format match {
      case "parquet" => pw.parquet(tmpPath.toString)
      case "json" => pw.json(tmpPath.toString) // JSONL, one object per line
      case other => throw new IllegalArgumentException(
        s"swapWrite format must be parquet or json, got: $other")
    }
    fs.delete(oldPath, true) // leftover from a prior crashed swap, if any
    if (fs.exists(dataPath)) fs.rename(dataPath, oldPath)
    fs.rename(tmpPath, dataPath)
    fs.delete(oldPath, true)
  }

  /** Recovery sweep for a [[swapWrite]] that crashed between its two
    * renames (the [[compactBuckets]] stance): if `dir` is missing and
    * `${dir}_old` exists, the old copy is the committed one — rename it
    * back. Idempotent; a no-op when `dir` exists. */
  def recoverSwap(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(s"${dir}_old")
    val fs = fsOf(p)
    if (!fs.exists(p) && fs.exists(old)) fs.rename(old, p)
  }

  // ---------------------------------------- merge-on-read delta generations
  //
  // A generational relation rooted at R is a BASE — parquet files directly
  // under R, the layout every relation had before deltas — plus committed
  // delta GENERATIONS in `R/_g<gen>/`. Spark's file listing skips
  // `_`-prefixed names, so a plain read of R sees the base alone, and a
  // generation nobody committed is never read. Generation rows carry a
  // physical `_gen` column; base rows read it as null (= generation 0).
  // A tombstone (id, gen) hides the rows of that id from EARLIER
  // generations only, so an upsert — tombstone plus append at one
  // generation — keeps its own new row. A truncating generation hides
  // every earlier generation. A fold rewrites the live rows with their
  // `_gen` kept, so re-applying a folded history hides nothing new: a
  // reader that still holds the pre-fold history reads the same rows.

  val GenCol = "_gen"

  def genDir(root: String, gen: Long): String = s"$root/_g$gen"

  /** One committed generation: whether it appended rows, wrote a
    * tombstone file, or truncated everything before it. */
  final case class Generation(gen: Long, rows: Boolean, tombstones: Boolean,
                              truncate: Boolean = false) {
    def flags: String =
      (if (rows) "r" else "") + (if (tombstones) "t" else "") + (if (truncate) "x" else "")
  }

  object Generation {
    def parse(gen: Long, flags: String): Generation =
      Generation(gen, flags.contains('r'), flags.contains('t'), flags.contains('x'))
  }

  /** Tombstone file of generation `gen` under a relation's tombstone dir. */
  def tombstonePath(tombDir: String, gen: Long): String = s"$tombDir/$gen"

  /** Write a tombstone id set: a type tag, then length-prefixed UTF-8
    * values (ids are arbitrary strings; no separator is safe). Written
    * before the commit that lists it, so a torn file is never read. */
  def writeIds(path: String, ids: Seq[Any]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = new java.io.DataOutputStream(fsOf(p).create(p, true))
    try {
      out.writeUTF(ids.headOption match {
        case Some(_: Long) => "long"
        case Some(_: Int) => "int"
        case _ => "string"
      })
      out.writeInt(ids.length)
      ids.foreach { id =>
        val b = id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
      }
    } finally out.close()
  }

  def readIds(path: String): Seq[Any] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = new java.io.DataInputStream(fsOf(p).open(p))
    try {
      val parse: String => Any = in.readUTF() match {
        case "long" => _.toLong
        case "int" => _.toInt
        case _ => identity
      }
      Vector.fill(in.readInt()) {
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        parse(new String(b, java.nio.charset.StandardCharsets.UTF_8))
      }
    } finally in.close()
  }

  /** Read a generational relation: the base (when `withBase`) and the
    * given generations, as ONE scan with the given data schema plus
    * `_gen`. A listed generation whose dir is gone was folded into the
    * base by a fold that crashed before it reset the history — its rows
    * are in the base with their `_gen` kept — so it is skipped. */
  def readGenerations(spark: SparkSession, root: String,
                      schema: org.apache.spark.sql.types.StructType,
                      gens: Seq[Long], withBase: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val fs = fsOf(new org.apache.hadoop.fs.Path(root))
    val dirs = gens.map(genDir(root, _))
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    spark.read
      .schema(StructType(schema.filterNot(_.name == GenCol) :+
        StructField(GenCol, LongType)))
      .parquet((if (withBase) root +: dirs else dirs): _*)
  }

  /** Apply a generation history's truncations and tombstones to rows
    * carrying `_gen`. One conjunct per distinct latest-tombstone
    * generation: ids sharing it form one IN set, which Catalyst turns
    * into a hash set. No rows are hidden by an empty history, and no
    * Spark job runs — the tombstones are driver-held literals. */
  def liveRows(rows: DataFrame, idCol: String,
               history: Seq[(Generation, Seq[Any])]): DataFrame = {
    val gen = coalesce(col(GenCol), lit(0L))
    val cut = history.collect { case (g, _) if g.truncate => g.gen }
      .foldLeft(0L)(math.max)
    val latest = scala.collection.mutable.HashMap[Any, Long]()
    for ((g, ids) <- history if g.gen > cut; id <- ids)
      latest(id) = math.max(latest.getOrElse(id, 0L), g.gen)
    val hides = latest.groupBy(_._2).toSeq.sortBy(_._1).map { case (g, m) =>
      coalesce(col(idCol).isin(m.keys.toSeq: _*) && gen < g, lit(false))
    }
    val keep = (if (cut > 0) Seq(gen >= cut) else Nil) ++ hides.map(!_)
    if (keep.isEmpty) rows else rows.where(keep.reduce(_ && _))
  }

  /** Delete every `_g<gen>` dir under `root` and every tombstone file
    * under `tombDir` whose generation `committed` rejects: the leftovers
    * of a write that crashed before its commit. */
  def sweepGenerations(root: String, tombDir: String,
                       committed: Long => Boolean): Unit = {
    val gen = "_g([0-9]+)".r
    for (d <- Seq(root, tombDir)) {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = fsOf(p)
      if (fs.exists(p)) fs.listStatus(p).foreach { s =>
        val g = s.getPath.getName match {
          case gen(n) if d == root => Some(n.toLong)
          case n if d == tombDir && n.forall(_.isDigit) => Some(n.toLong)
          case _ => None
        }
        if (g.exists(!committed(_))) fs.delete(s.getPath, true)
      }
    }
  }

  /** The commit point of a collection's merge-on-read data (`_manifest`):
    * the data schema, the committed generations, the last committed write
    * generation (`committed`, which keyword-sidecar generations are
    * checked against), and a layout counter that every fold bumps so
    * handles holding a file listing re-list. Data files no manifest lists
    * are invisible. Line format, written tmp + rename. */
  final case class Manifest(layout: Long, committed: Long, schema: String,
                            gens: Vector[Generation]) {
    def render: String =
      (Seq(s"layout $layout", s"committed $committed", s"schema $schema") ++
        gens.map(g => s"gen ${g.gen} ${g.flags}")).mkString("", "\n", "\n")
  }

  object Manifest {
    def parse(raw: String): Manifest = {
      val lines = raw.split("\n").toSeq.filter(_.nonEmpty)
        .map { l => val i = l.indexOf(' '); (l.take(i), l.drop(i + 1)) }
      def one(k: String) = lines.collectFirst { case (`k`, v) => v }
        .getOrElse(throw new IllegalArgumentException(s"manifest lacks '$k'"))
      Manifest(one("layout").toLong, one("committed").toLong, one("schema"),
        lines.collect { case ("gen", v) =>
          val f = v.split(" ")
          Generation.parse(f(0).toLong, if (f.length > 1) f(1) else "")
        }.toVector)
    }
  }

  private def manifestPath(dir: String) = s"$dir/_manifest"

  /** The raw committed manifest, or None for a collection written before
    * manifests (a bare `data/` base). */
  def readManifest(dir: String): Option[String] =
    if (pathExists(manifestPath(dir))) Some(readString(manifestPath(dir))) else None

  def writeManifest(dir: String, m: Manifest): Unit =
    writeString(manifestPath(dir), m.render)

  /** Small-file compaction for an append-maintained bucket-partitioned
    * sidecar (`root/_xx=K/part-*.parquet`). Every incremental append
    * leaves one file per touched bucket; at steady ingest cadence hot
    * buckets accumulate footer-read-dominated small files and pruned
    * probes degrade. Rewrite ONLY buckets whose parquet file count
    * exceeds `maxFilesPerBucket`, each into a single file via a
    * per-bucket rename swap — cold buckets are never read, so one pass
    * costs O(hot-bucket bytes), not O(sidecar). Row sets per bucket are
    * unchanged, so reads are result-identical before and after. Returns
    * the number of buckets rewritten.
    *
    * The two-rename swap is NOT atomic: a crash between "bucket renamed
    * aside" and "tmp renamed in" leaves the bucket's only copy in a
    * dot-prefixed `.compact_*.old` dir that parquet readers skip. Every
    * pass therefore STARTS with a recovery sweep: a `.old` whose bucket
    * dir is missing is renamed back (restoring the rows), any other
    * `.old`/`.tmp` leftover is deleted — so the crash window is
    * self-healing on the next pass, never a manual repair. */
  def compactBuckets(spark: SparkSession, root: String,
                     maxFilesPerBucket: Int): Int = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return 0
    // recovery sweep for a prior crashed pass
    for (s <- fs.listStatus(rootPath)
         if s.isDirectory && s.getPath.getName.startsWith(".compact_")) {
      val leftover = s.getPath.getName
      if (leftover.endsWith(".old")) {
        val bucket = new Path(rootPath,
          leftover.stripPrefix(".compact_").stripSuffix(".old"))
        if (!fs.exists(bucket)) fs.rename(s.getPath, bucket)
        else fs.delete(s.getPath, true)
      } else if (leftover.endsWith(".tmp")) fs.delete(s.getPath, true)
    }
    var n = 0
    for (b <- fs.listStatus(rootPath)
         if b.isDirectory && b.getPath.getName.contains("=")) {
      val files = fs.listStatus(b.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (files.length > maxFilesPerBucket) {
        val name = b.getPath.getName
        val tmp = new Path(rootPath, s".compact_$name.tmp")
        val old = new Path(rootPath, s".compact_$name.old")
        fs.delete(tmp, true); fs.delete(old, true)
        // The partition value lives in the DIRECTORY name, not the rows,
        // so a direct bucket-dir read/write round-trips the stored schema.
        spark.read.parquet(b.getPath.toString)
          .coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        fs.rename(b.getPath, old)
        fs.rename(tmp, b.getPath)
        fs.delete(old, true)
        n += 1
      }
    }
    n
  }

  /** Flat-directory twin of [[compactBuckets]] for unpartitioned
    * append-maintained relations (e.g. the BM25 doclen sidecar): if the
    * directory holds more than `maxFiles` parquet files, rewrite it into
    * one file via [[swapWrite]]'s read-then-swap (safe against reading
    * the files being replaced). Returns true if it rewrote. */
  def compactDir(spark: SparkSession, dir: String, maxFiles: Int): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val files = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    if (files.length <= maxFiles) return false
    swapWrite(spark.read.parquet(dir).coalesce(1), dir)
    true
  }

  /** Directory scan for collections (S3, vectordb.py:627-646). */
  def list(root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(p)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "config.json")))
      .map(_.getPath.getName).sorted
  }

  def delete(root: String, name: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(root, name)
    val fs = fsOf(dir)
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory) false
    else fs.delete(dir, true)
  }
}

/** Batch change-data capture (SURVEY §2.8 E5: the reference's observable
  * CRUD wrapper, realtime.py:325-442): diff two versions of a keyed table
  * into insert/update/delete event rows — the write-ahead event table a
  * streaming subscriber (E1-E3) consumes. */
object Changelog {
  import org.apache.spark.sql.Column

  /** Returns (op, key, before-cols..., after-cols...) rows; op in
    * insert|update|delete. Columns are compared null-safely; presence is
    * tracked with marker columns so all-null data rows still diff right. */
  def diff(before: DataFrame, after: DataFrame, keyCol: String): DataFrame = {
    val dataCols = before.columns.filterNot(_ == keyCol).toSeq
    val b = dataCols.foldLeft(before)((df, c) => df.withColumnRenamed(c, s"_b_$c"))
      .withColumn("_b_present", lit(true))
    val a = dataCols.foldLeft(after)((df, c) => df.withColumnRenamed(c, s"_a_$c"))
      .withColumn("_a_present", lit(true))
    val joined = b.join(a, Seq(keyCol), "full_outer")
    val changed: Column = dataCols.map(c => !(col(s"_b_$c") <=> col(s"_a_$c")))
      .reduce(_ || _)
    val bPresent = coalesce(col("_b_present"), lit(false))
    val aPresent = coalesce(col("_a_present"), lit(false))
    joined
      .withColumn("op",
        when(!bPresent && aPresent, lit("insert"))
          .when(bPresent && !aPresent, lit("delete"))
          .when(changed, lit("update")))
      .where(col("op").isNotNull)
      .select(Seq(col("op"), col(keyCol)) ++
        dataCols.map(c => col(s"_b_$c").as(s"before_$c")) ++
        dataCols.map(c => col(s"_a_$c").as(s"after_$c")): _*)
  }
}
