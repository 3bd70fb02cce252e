package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.etl.{CovidTransform, Schemas}

/** File-arrival micro-batching (SURVEY.md §2.9): the reference's
  * sensor-poll + per-file reprocess + append loop
  * (`/root/reference/airflow.py:47-54`, `README.md:157-166`) as a Structured
  * Streaming file source drained by one commit fence, [[fenced]].
  *
  * File-source checkpointing gives exactly-once per-file processing — the
  * property the reference approximates with sensor + move-to-processed.
  * The same code runs continuously (`Trigger.ProcessingTime`) on a cluster;
  * AvailableNow drains what exists and stops, which is the batch-parity mode.
  */
object StreamingIngest {

  /** Watch `inputDir` for covid CSVs; clean each micro-batch and append to
    * `outputPath` parquet under the commit fence ([[fenced]]). Blocks until
    * all currently-available files are processed. Returns rows written
    * across this invocation.
    *
    * A batch is written to an `_`-prefixed staging directory, then its
    * part files are renamed into the output as `b<batchId>-<part>`. A
    * replay that crashed before the marker first deletes the files its
    * batch id published, so each batch is in the output once.
    */
  def runAvailableNow(spark: SparkSession, inputDir: String, outputPath: String,
                      checkpointDir: String): Long = {
    val raw = spark.readStream
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(Schemas.covidRaw)
      .csv(inputDir)
    val (out, fs) = hadoopFs(spark, outputPath)
    fenced(raw, outputPath, checkpointDir) { (batch, batchId) =>
      fs.globStatus(new Path(out, s"b$batchId-*"))
        .foreach(st => fs.delete(st.getPath, false))
      val stage = new Path(out, s"_graft_stage_b$batchId")
      val checked = CovidTransform.checked(batch)
      checked.df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
      fs.listStatus(stage).map(_.getPath).filter(p => isDataFile(p.getName)).foreach { p =>
        val dest = new Path(out, s"b$batchId-${p.getName}")
        require(fs.rename(p, dest), s"runAvailableNow: rename failed: $p -> $dest")
      }
      fs.delete(stage, true)
      (checked.recordCount, nothingAfter)
    }
  }

  /** The micro-batch commit fence every sink here runs under. `stream`
    * drains under an AvailableNow trigger against `checkpointDir`, and
    * batch `b` runs `body` only while the marker
    * `<targetDir>/_graft_commits/<b>` is absent:
    *   - `body` writes the batch and returns what it applied plus a
    *     post-commit step (version retention, or [[nothingAfter]]);
    *   - the marker is created after those writes, then the step runs.
    *
    * A batch the checkpoint replays after its marker was written applies
    * nothing. A crash between a body's writes and its marker replays the
    * body, which each sink makes idempotent in its own layout: id
    * anti-joins, uncommitted version directories a reader ignores, or
    * batch-named files.
    *
    * The markers use the CHECKPOINT's batch numbering. Restarting against
    * an existing target with a fresh checkpoint restarts ids at 0, and the
    * old markers would skip those batches: a new checkpoint needs a new
    * target, or cleared markers when the input is re-delivered from
    * scratch.
    *
    * Blocks until available input drains. Returns the sum of what the
    * bodies applied (replays add nothing).
    */
  private def fenced(stream: DataFrame, targetDir: String, checkpointDir: String)(
      body: (DataFrame, Long) => (Long, () => Unit)): Long = {
    val (targetPath, fs) = hadoopFs(stream.sparkSession, targetDir)
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new Path(commitsDir(targetPath), batchId.toString)
        if (!fs.exists(marker)) {
          val (n, afterCommit) = body(batch, batchId)
          fs.mkdirs(marker.getParent)
          fs.createNewFile(marker)
          applied.addAndGet(n)
          afterCommit()
        }
        ()
      }
      .start()
      .awaitTermination()
    applied.get()
  }

  /** The post-commit step of a sink that keeps no versions. */
  private val nothingAfter: () => Unit = () => ()

  private def commitsDir(targetPath: Path) = new Path(targetPath, "_graft_commits")

  /** Batch ids whose [[fenced]] marker exists under `targetPath`. */
  private def committedVersions(fs: FileSystem, targetPath: Path): Seq[Long] = {
    val dir = commitsDir(targetPath)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap(_.getPath.getName.toLongOption)
  }

  private def latestCommittedVersion(fs: FileSystem, statePath: Path): Option[Long] =
    committedVersions(fs, statePath).maxOption

  /** Partition-column name of the sink's bucketed layout. */
  val bucketCol = "__kb"

  private def hadoopFs(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p, FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration))
  }

  private def isDataFile(name: String) = !name.startsWith("_") && !name.startsWith(".")

  /** True iff the target holds actual DATA files (not just a pre-created
    * directory or a crashed first batch's `_temporary` leftovers — a bare
    * `exists()` probe made `spark.read.parquet` throw "unable to infer
    * schema" forever in those states).
    */
  private def targetHasData(fs: FileSystem, targetPath: Path): Boolean =
    planeHasData(fs, targetPath, bucketCol)

  /** Incremental dedup-append sink: each micro-batch is deduped within
    * itself (first row per key in `orderCol` order), anti-joined against
    * the keys already in the target, and APPENDED — the insert-only upsert
    * that continuous ingest needs, expressed safely on plain parquet
    * (append never rewrites files, so concurrent readers are fine; no
    * atomic-overwrite gymnastics).
    *
    * Update-in-place upserts (SCD1 over a stream) are [[upsertSink]] —
    * bucket-granular copy-on-write with versioned directories standing in
    * for a table format's transactional file replacement; batch-mode SCD1
    * is [[graft.ops.ScaleOps.upsert]].
    *
    * Scale shape — per-batch cost must NOT grow with target history:
    *   - The target is laid out as parquet PARTITIONED BY
    *     `__kb = pmod(xxhash64(key), nBuckets)`. The anti-join reads only
    *     the key column of the buckets the BATCH's keys hash into
    *     (partition pruning skips every other bucket at file-listing time),
    *     so a micro-batch with b distinct buckets scans b/nBuckets of the
    *     corpus keys instead of all of them. Size `nBuckets` ≈ corpus
    *     keys / 4M so a pruned bucket's key column stays a few tens of MB.
    *   - Under the commit fence ([[fenced]]) a replay that crashed
    *     between append and marker re-drops its keys through the
    *     anti-join: exactly-once at key level.
    *
    * The sink OWNS the target layout from birth (create target and
    * checkpoint together); readers see the extra `__kb` partition column
    * and can ignore it — or reuse it for pruned key joins. Maintenance:
    * [[compactDedupTarget]] folds accumulated small files per bucket.
    *
    * Returns rows appended across this invocation.
    */
  def dedupAppendSink(spark: SparkSession, stream: DataFrame, keyCol: String,
                      orderCol: String, targetDir: String,
                      checkpointDir: String, nBuckets: Int = 256): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(nBuckets > 0, "nBuckets must be positive")
    // Hadoop FS, not java.io.File: the target can live on any filesystem
    // Spark can write (hdfs://, s3a://, ...)
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    fenced(stream, targetDir, checkpointDir) { (batch, _) =>
      val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
      // NULL keys: a plain equi anti-join never matches null = null —
      // a null-keyed row would re-insert EVERY batch (the upsert
      // null-key trap, streaming edition). The anti-join therefore
      // compares null-safely (<=>), so at most one null-keyed row
      // ever lands in the target, like any other key. (xxhash64(NULL)
      // evaluates to its seed, not NULL — the coalesce below is a
      // belt-and-braces guard, not the null mechanism.)
      val batchDeduped = batch
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .withColumn(bucketCol, coalesce(
          pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)), lit(0L)))
        .persist() // bucket discovery + anti-join read it once each
      try {
        val fresh =
          if (targetHasData(fs, targetPath)) {
            // ≤ nBuckets small longs — bounded driver traffic by design
            val bucketsHit = batchDeduped.select(bucketCol).distinct()
              .collect().map(_.getLong(0)).toSeq
            val existingKeys = spark.read.parquet(targetDir)
              .where(col(bucketCol).isin(bucketsHit: _*)) // partition-pruned
              .select(col(keyCol).as("__existing_key"))
            batchDeduped.join(existingKeys,
              batchDeduped(keyCol) <=> col("__existing_key"), "left_anti")
          } else batchDeduped
        fresh.persist() // one computation for the count AND the append
        try {
          val n = fresh.count()
          if (n > 0) fresh.write.mode(SaveMode.Append)
            .partitionBy(bucketCol).parquet(targetDir)
          (n, nothingAfter)
        } finally fresh.unpersist()
      } finally batchDeduped.unpersist()
    }
  }

  /** Offline small-file compaction for a [[dedupAppendSink]] target: every
    * bucket whose data sits in more files than `ceil(bytes/targetFileBytes)`
    * is read, re-written as that many files, and swapped in. Buckets are
    * rewritten ONE AT A TIME — a reader sees each bucket either fully old
    * or fully new (the swap is two renames; the in-between window is one
    * missing bucket, which is why this is an offline maintenance op: run it
    * without concurrent writers, like VACUUM). Rows and keys are unchanged
    * — pure file-count reduction, so the sink's key-idempotence contract is
    * unaffected. Returns the number of buckets compacted.
    */
  /** Offline bucket-count migration for a [[dedupAppendSink]] target — the
    * missing third of the lifecycle (birth → [[compactDedupTarget]] →
    * re-bucket): `nBuckets` is fixed when the sink first creates the
    * target, so after 100× key growth each bucket's key column is 100×
    * the size it was sized for and the anti-join's pruning win erodes.
    * This rewrites the layout to `newBuckets` (re-hashing every key with
    * the sink's own bucket expression, null-key sentinel included) so
    * subsequent `dedupAppendSink(..., nBuckets = newBuckets)` calls prune
    * against right-sized buckets again.
    *
    * Rows and keys are byte-identical — pure re-layout, the key-level
    * idempotence contract is unaffected — and `_graft_commits` markers are
    * left in place, so already-processed batch replays still skip. Like
    * compaction this is an OFFLINE op (run without concurrent writers):
    * the swap window briefly exposes a partially-moved layout.
    *
    * Crash safety: the swap is a marker-fenced state machine and THE
    * RECOVERY ACTION IS SIMPLY RUNNING THE OP AGAIN — on entry it rolls a
    * crashed attempt back to the original layout (parked buckets under
    * `_graft_rebucket_old` restored, half-lifted new buckets discarded,
    * finished-but-uncleaned attempts completed) before migrating. Every
    * rename is checked; no state loses rows. Returns the number of rows
    * in the re-bucketed target.
    */
  def rebucketDedupTarget(spark: SparkSession, targetDir: String,
                          keyCol: String, newBuckets: Int): Long = {
    import org.apache.spark.sql.functions._
    require(newBuckets > 0, "newBuckets must be positive")
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    val tmp = new Path(targetPath, "_graft_rebucket_tmp")
    val old = new Path(targetPath, "_graft_rebucket_old")
    // parked = ALL original buckets are under old/ (lift may have started);
    // commit = the lift completed (only cleanup remained)
    val parked = new Path(targetPath, "_graft_rebucket_parked")
    val commit = new Path(targetPath, "_graft_rebucket_commit")
    def mustRename(src: Path, dst: Path): Unit =
      require(fs.rename(src, dst), s"rename failed: $src -> $dst")
    def bucketDirs(p: Path) =
      fs.globStatus(new Path(p, s"$bucketCol=*")).filter(_.isDirectory)

    // ---- recovery from a crashed earlier attempt (see scaladoc) ----
    if (fs.exists(commit)) {
      // lift completed; only cleanup was interrupted
      fs.delete(old, true); fs.delete(parked, false)
      fs.delete(commit, false); fs.delete(tmp, true)
    } else if (fs.exists(old) || fs.exists(parked)) {
      if (fs.exists(parked)) {
        // every original bucket is parked — whatever __kb dirs sit in the
        // target are half-lifted NEW dirs; discard them (tmp/old still
        // hold everything) and fall through to the restore
        bucketDirs(targetPath).foreach(d => fs.delete(d.getPath, true))
      }
      // phase-1 crash parks a SUBSET: restore exactly the parked dirs
      // (a bucket dir is either parked or still in the target, never both)
      if (fs.exists(old)) bucketDirs(old).foreach(d =>
        mustRename(d.getPath, new Path(targetPath, d.getPath.getName)))
      fs.delete(old, true); fs.delete(parked, false)
    }
    fs.delete(tmp, true) // stale partial write, if any

    if (!targetHasData(fs, targetPath)) return 0L
    spark.read.parquet(targetDir)
      .drop(bucketCol)
      .withColumn(bucketCol, coalesce(
        pmod(xxhash64(col(keyCol)), lit(newBuckets.toLong)), lit(0L)))
      .write.mode(SaveMode.Overwrite).partitionBy(bucketCol).parquet(tmp.toString)
    val rows = spark.read.parquet(tmp.toString).count()
    // swap: park every old bucket dir, fence, lift the new ones, fence
    fs.mkdirs(old)
    bucketDirs(targetPath).foreach(d =>
      mustRename(d.getPath, new Path(old, d.getPath.getName)))
    fs.createNewFile(parked)
    bucketDirs(tmp).foreach(d =>
      mustRename(d.getPath, new Path(targetPath, d.getPath.getName)))
    fs.createNewFile(commit)
    fs.delete(old, true); fs.delete(parked, false)
    fs.delete(commit, false); fs.delete(tmp, true)
    rows
  }

  def compactDedupTarget(spark: SparkSession, targetDir: String,
                         targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    if (!fs.exists(targetPath)) return 0
    val bucketDirs = fs.globStatus(new Path(targetPath, s"$bucketCol=*"))
      .filter(_.isDirectory)
    var compacted = 0
    bucketDirs.foreach { d =>
      val dataFiles = fs.listStatus(d.getPath).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      val totalBytes = dataFiles.map(_.getLen).sum
      val wantFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
      if (dataFiles.length > wantFiles) {
        val tmp = new Path(targetPath, s"_graft_compact_tmp_${d.getPath.getName}")
        val trash = new Path(targetPath, s"_graft_compact_old_${d.getPath.getName}")
        // rewrite this bucket's rows (no partition column inside the files)
        spark.read.parquet(d.getPath.toString)
          .coalesce(wantFiles)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        fs.delete(new Path(tmp, "_SUCCESS"), false)
        // swap: old bucket aside, tmp in. Crash between the renames leaves
        // the bucket recoverable under _graft_compact_old_* (underscore-
        // prefixed → invisible to partition discovery).
        fs.rename(d.getPath, trash)
        fs.rename(tmp, d.getPath)
        fs.delete(trash, true)
        compacted += 1
      }
    }
    compacted
  }

  /** A target's layout contract, stored in `<targetPath>/<markerName>`:
    * the first writer records `geo`, every later entry point requires an
    * exact match. The sinks' probes and merges find stored state by hash
    * bucket and band geometry; a run with other parameters would hash
    * into cells the target never populated, silently losing recall or
    * serving stale duplicates from buckets its keys moved out of.
    */
  private def checkOrWriteMarker(fs: FileSystem, targetPath: Path,
                                 markerName: String, kind: String,
                                 geo: String): Unit = {
    val marker = new Path(targetPath, markerName)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      require(stored == geo,
        s"$kind target $targetPath was built with geometry [$stored], " +
          s"this run uses [$geo] — probes would silently miss stored state")
    } else {
      fs.mkdirs(targetPath)
      val out = fs.create(marker, true)
      try out.write(geo.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The drop set of [[nearDupAppendSink]]'s CONTAINMENT tier: ids of
    * `fresh` documents whose distinct-shingle set is contained
    * (|A ∩ B| / |A| ≥ `minContainment`) in a stored corpus document —
    * the quoted-whole short doc the Jaccard planes structurally miss
    * (its Jaccard vs the container is ≈ |A|/|B| ≈ 0, so no LSH band
    * collides; see [[graft.ops.Dedup.containmentPairs]]).
    *
    * The batch-incremental spelling of the batch operator's guarded
    * plan: each batch doc probes the `shingles/` inverted index with
    * only its |A| - ⌈t·|A|⌉ + 1 corpus-df-rarest shingles (lossless by
    * pigeonhole; shingles unseen in the probed partitions get df 0 —
    * any per-doc subset of that size is sound because the container
    * side indexes every relevant shingle), partition-pruned to the
    * `__shb` buckets the batch hashes into. Candidates then verify with
    * ONE merge-count against the candidate containers' stored sets
    * (`docsh/`, pruned to candidate buckets). Per-batch cost ∝ batch +
    * touched partitions + candidates, NEVER corpus size; a boilerplate
    * corpus shingle has maximal df, orders last, and stays out of
    * probe prefixes. Self-pairs are filtered null-safely — a torn
    * replay may have appended THIS batch's own plane rows already.
    *
    * Eagerly materialized (localCheckpoint) so the probe's persisted
    * frames can be released before the caller consumes the drop set.
    */
  private def containmentDropIds(spark: SparkSession,
                                 shinglesDir: Path,
                                 docshDir: Path,
                                 fresh: DataFrame, idCol: String, textCol: String,
                                 shingleSize: Int, minContainment: Double,
                                 nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.ArrayMath
    val empty = fresh.select(col(idCol).as("__cdid")).limit(0)
    val bsh = graft.ops.Dedup.containmentShingles(fresh, idCol, textCol,
      shingleSize).persist()
    try {
      val bshE = bsh.select(col("id"), explode(col("__shs")).as("sh"))
      val shb = bshE.select(hashBucket(nBuckets, col("sh")).as("__shb"))
        .distinct().collect().map(_.getLong(0)).toSeq
      if (shb.isEmpty) empty
      else {
        val relevant = spark.read.parquet(shinglesDir.toString)
          .where(col("__shb").isin(shb: _*)) // partition-pruned
          .join(bshE.select("sh").distinct(), Seq("sh"), "left_semi")
          .select(col("sh"), col(idCol).as("__cid"))
          .persist()
        try {
          val dfs = relevant.groupBy("sh").agg(count(lit(1)).as("__df"))
          val prefix = bshE.join(dfs, Seq("sh"), "left")
            .withColumn("__df", coalesce(col("__df"), lit(0L)))
            .groupBy(col("id"))
            .agg(sort_array(collect_list(struct(col("__df"), col("sh")))).as("__ord"))
            .withColumn("__sz", size(col("__ord")))
            .select(col("id"), explode(expr(
              "transform(slice(__ord, 1, cast(__sz - greatest(1L, " +
                s"ceil($minContainment * __sz) - 1L) + 1L as int)), x -> x.sh)")).as("sh"))
          val cands = prefix.join(relevant, Seq("sh"))
            .filter(!(col("id") <=> col("__cid"))) // torn-replay self-pair
            .select(col("id").as("__bid"), col("__cid")).distinct().persist()
          try {
            // ≤ nBuckets small longs — bounded driver traffic by design
            val db = cands.select(hashBucket(nBuckets, col("__cid")).as("__db"))
              .distinct().collect().map(_.getLong(0)).toSeq
            if (db.isEmpty) empty
            else {
              // max-per-id collapses duplicate set rows a torn replay may
              // have appended (identical payloads)
              val corpusSets = spark.read.parquet(docshDir.toString)
                .where(col("__db").isin(db: _*)) // partition-pruned
                .groupBy(col(idCol).as("__ccid"))
                .agg(max(col("__shs")).as("__cshs"))
              cands.join(bsh, cands("__bid") <=> bsh("id"))
                .join(corpusSets, cands("__cid") <=> corpusSets("__ccid"))
                .filter(ArrayMath.sortedIntersectCount(col("__shs"), col("__cshs"))
                  .cast("double") / size(col("__shs")).cast("double") >= minContainment)
                .select(col("__bid").as("__cdid")).distinct()
                .localCheckpoint(true)
            }
          } finally cands.unpersist()
        } finally relevant.unpersist()
      }
    } finally bsh.unpersist()
  }

  /** The sinks' shared hash-bucket spelling: `pmod(xxhash64(cs…), n)`. */
  private def hashBucket(n: Int, cs: org.apache.spark.sql.Column*) = {
    import org.apache.spark.sql.functions._
    pmod(xxhash64(cs: _*), lit(n.toLong))
  }

  /** (band, bucket, id, fp, __bb) rows for the near-dup band plane: LSH
    * bands over ALREADY-COMPUTED signatures ([[graft.ops.Dedup.bandCells]]
    * — the one shared banding spelling) plus the exact-fingerprint
    * pseudo-band (-1), which alone carries the md5 `fp` for 128-bit drop
    * confirmation. ONE builder shared by [[nearDupAppendSink]] and
    * [[bootstrapNearDupTarget]] so probe and plane can never drift.
    */
  private def nearDupBandRows(idCol: String, textCol: String,
                              sigs: DataFrame, docs: DataFrame,
                              bands: Int, rowsPerBand: Int,
                              nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.ops.{Dedup, TextOps}
    val lsh = sigs
      .select(col(idCol),
        explode(Dedup.bandCells(col("signature"), bands, rowsPerBand)).as("__b"))
      .select(col(idCol), col("__b.band").as("band"),
        col("__b.bucket").as("bucket"), lit(null).cast("string").as("fp"))
    val fp = docs.select(col(idCol), lit(-1).as("band"),
      xxhash64(TextOps.fingerprintMd5(col(textCol))).as("bucket"),
      TextOps.fingerprintMd5(col(textCol)).as("fp"))
    lsh.unionByName(fp)
      .withColumn("__bb", hashBucket(nBuckets, col("band"), col("bucket")))
  }

  /** True iff a partitioned plane under `dir` holds actual data files
    * (generalized [[targetHasData]] for an arbitrary partition column).
    */
  private def planeHasData(fs: FileSystem,
                           path: Path,
                           partCol: String): Boolean =
    fs.exists(path) && fs.globStatus(new Path(path, s"$partCol=*/*"))
      .exists(st => st.isFile && isDataFile(st.getPath.getName))

  /** Streaming NEAR-duplicate dedup-append sink — [[dedupAppendSink]]'s
    * missing content tier: the exact sink drops only identical KEYS, this
    * one drops a batch document when the corpus already holds an exact or
    * NEAR copy of its text (MinHash-LSH, the Gopher/CCNet-style
    * production dedup loop run incrementally instead of as a full-corpus
    * batch job).
    *
    * Target layout (all three planes hash-partitioned so every probe is
    * partition-pruned to the buckets the BATCH hashes into — per-batch
    * cost ∝ batch + collision candidates, NEVER corpus size):
    *   - `docs/`  survivors, partitioned by `__kb = pmod(xxhash64(id), n)`;
    *   - `bands/` (band, bucket, id, fp) rows partitioned by
    *     `__bb = pmod(xxhash64(band, bucket), n)` — the LSH bands PLUS one
    *     pseudo-band `band = -1, bucket = xxhash64(fingerprint)` carrying
    *     the exact-dedup plane (short documents with no shingles still
    *     get the fingerprint row, so exact copies of them are caught);
    *     pseudo-band rows also store the md5 `fp` itself, so an exact
    *     drop is confirmed on the 128-bit fingerprint, never on the
    *     64-bit bucket hash alone (at 10^10 docs, 64-bit birthday
    *     collisions are expected events — a bucket-only drop would be
    *     silent data loss);
    *   - `sigs/`  (id, signature) partitioned by
    *     `__sb = pmod(xxhash64(id), n)` — fetched only for collision
    *     candidates to verify `est_jaccard >= minJaccard` (an LSH bucket
    *     collision alone is a candidate, not a verdict);
    *   - with `minContainment` set, two CONTAINMENT planes closing the
    *     asymmetric hole Jaccard-LSH structurally leaves open (a short
    *     doc quoted whole inside a stored longer one has containment ≈ 1
    *     but Jaccard ≈ 0 — no band ever collides): `shingles/` (sh, id)
    *     — the corpus inverted index, partitioned by
    *     `__shb = pmod(xxhash64(sh), n)` — and `docsh/` (id, sorted
    *     distinct shingle set) partitioned by `__db = pmod(xxhash64(id),
    *     n)` for candidate verification. Batch docs probe with only
    *     their corpus-df-rarest prefix shingles (lossless, skew-proof —
    *     see [[graft.ops.Dedup.containmentPairs]]'s guarded plan, whose
    *     incremental spelling this is); the planes cost ~one row per
    *     corpus shingle, the honest price of exact containment — leave
    *     `minContainment` off when that tier isn't needed. DIRECTIONAL
    *     by design: an incoming doc contained in the corpus is dropped;
    *     a stored doc contained in an incoming longer one is NOT removed
    *     (the target is append-only) — run the batch operator over the
    *     served corpus for that direction.
    *
    * Per micro-batch: resolve WITHIN-batch duplicates first (exact
    * fingerprint winner per group, then the [[graft.ops.Dedup.dropNearDuplicates]]
    * greedy rule), probe the corpus planes for exact/near collisions,
    * verify LSH candidates against fetched signatures, anti-join
    * survivors' ids against `docs/` (bucket-pruned, the
    * [[dedupAppendSink]] idempotence contract), then append bands +
    * signatures + docs under the commit fence ([[fenced]]). A replay that
    * crashed mid-append re-drops its documents through the id anti-join
    * and the band planes tolerate duplicate rows (collision semantics are
    * set-like — verified via max-per-id signature fetch). All id
    * comparisons are NULL-SAFE (`<=>`): a null-id document dedups like
    * any other key instead of re-inserting every batch.
    *
    * Returns documents appended across this invocation.
    */
  def nearDupAppendSink(spark: SparkSession, stream: DataFrame,
                        idCol: String, textCol: String, targetDir: String,
                        checkpointDir: String, numHashes: Int = 32,
                        shingleSize: Int = 3, bands: Int = 8,
                        minJaccard: Double = 0.8,
                        nBuckets: Int = 64,
                        minContainment: Option[Double] = None): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.ops.{Dedup, TextOps}
    require(nBuckets > 0, "nBuckets must be positive")
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    minContainment.foreach(t => require(t > 0.0 && t <= 1.0,
      "minContainment must be in (0, 1]"))
    val rowsPerBand = numHashes / bands
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    checkOrWriteMarker(fs, targetPath, "_graft_geometry", "near-dup",
      s"numHashes=$numHashes,shingleSize=$shingleSize,bands=$bands," +
        s"nBuckets=$nBuckets,containment=${if (minContainment.isDefined) "on" else "off"}")
    val docsDir = new Path(targetPath, "docs")
    val bandsDir = new Path(targetPath, "bands")
    val sigsDir = new Path(targetPath, "sigs")
    val shinglesDir = new Path(targetPath, "shingles")
    val docshDir = new Path(targetPath, "docsh")
    fenced(stream, targetDir, checkpointDir) { (batch, _) =>
      // ---- within-batch: exact winner per fingerprint, then greedy
      // near, then (containment tier only) greedy contained-drop so a
      // short doc quoted inside a same-batch longer doc resolves here
      val wExact = Window
        .partitionBy(TextOps.fingerprintMd5(col(textCol))).orderBy(col(idCol))
      val batchExact = batch.withColumn("__rn", row_number().over(wExact))
        .filter(col("__rn") === 1).drop("__rn")
      val batchNear = Dedup.dropNearDuplicates(batchExact, idCol, textCol,
        numHashes, shingleSize, bands, minJaccard)
      val batchUnique = minContainment.fold(batchNear)(t =>
        Dedup.dropContained(batchNear, idCol, textCol, shingleSize, t))
        .persist()
      try {
        // signatures computed ONCE per batch, reused by the band
        // plane, the verification join, and the sigs append
        val batchSigs = Dedup.minhashSignatures(batchUnique,
          idCol, textCol, numHashes, shingleSize).persist()
        val batchBands = nearDupBandRows(idCol, textCol, batchSigs,
            batchUnique, bands, rowsPerBand, nBuckets)
          .persist()
        var hitsRef: Option[DataFrame] = None
        try {
          // ---- corpus probe: partition-pruned band collision candidates
          val dropIds =
            if (planeHasData(fs, bandsDir, "__bb")) {
              // ≤ nBuckets small longs — bounded driver traffic by design
              val bb = batchBands.select("__bb").distinct()
                .collect().map(_.getLong(0)).toSeq
              val stored = spark.read.parquet(bandsDir.toString)
                .where(col("__bb").isin(bb: _*)) // partition-pruned
                .select(col("band"), col("bucket"),
                  col(idCol).as("__cid"), col("fp").as("__cfp"))
              // skinny + persisted: every downstream branch (exact
              // drops, sb collect, verification, fresh count) reuses
              // this join instead of re-running the probe
              val hits = batchBands
                .join(stored, Seq("band", "bucket"))
                // a torn replay may have appended THIS batch's own
                // band rows already (bands plane is written first) —
                // a doc must never collide with itself; null-safe so
                // a null-id doc doesn't slip past as "not equal"
                .filter(!(col(idCol) <=> col("__cid")))
                .select(col(idCol), col("__cid"), col("band"),
                  col("fp"), col("__cfp"))
                .persist()
              hitsRef = Some(hits)
              // fingerprint pseudo-band: exact copy — confirmed on
              // the 128-bit md5, not the 64-bit bucket hash;
              // null-safe so a null-text doc exact-dedups against a
              // stored null-text doc instead of re-appending forever
              val exactDrops = hits.filter(col("band") === -1 &&
                  (col("fp") <=> col("__cfp")))
                .select(col(idCol)).distinct()
              // LSH candidates: verify est_jaccard against the stored
              // signatures of JUST the colliding corpus ids
              val cands = hits.filter(col("band") =!= -1)
                .select(col(idCol), col("__cid")).distinct()
              val sb = cands
                .select(hashBucket(nBuckets, col("__cid")).as("__sb"))
                .distinct().collect().map(_.getLong(0)).toSeq
              val nearDrops =
                if (sb.isEmpty) exactDrops.limit(0)
                else {
                  // max-per-id collapses duplicate sig rows a torn
                  // replay may have appended (identical payloads)
                  val corpusSigs = spark.read.parquet(sigsDir.toString)
                    .where(col("__sb").isin(sb: _*)) // partition-pruned
                    .groupBy(col(idCol).as("__cid"))
                    .agg(max(col("signature")).as("__csig"))
                  // null-safe: a null-id batch doc's candidates must
                  // still verify (a USING join would silently skip
                  // them and append a near copy)
                  cands.join(batchSigs.withColumnRenamed(idCol, "__sigid"),
                      col(idCol) <=> col("__sigid"))
                    .join(corpusSigs, "__cid")
                    .filter(graft.functions.ArrayMath
                      .arrayEqCount(col("signature"), col("__csig"))
                      .cast("double") / numHashes >= minJaccard)
                    .select(col(idCol)).distinct()
                }
              exactDrops.unionByName(nearDrops).distinct()
                .select(col(idCol).as("__did"))
            } else batchUnique.select(col(idCol).as("__did")).limit(0)

          val fresh0 = batchUnique
            .join(dropIds, batchUnique(idCol) <=> col("__did"), "left_anti")
            .withColumn("__kb", hashBucket(nBuckets, col(idCol)))
          // id-level idempotence (torn-replay re-drop), bucket-pruned.
          // Buckets collected from batchUnique (a SUPERSET of fresh0's
          // — still a correct prune) so the collect doesn't force an
          // extra evaluation of the un-persisted dropIds subtree.
          val fresh =
            if (planeHasData(fs, docsDir, "__kb")) {
              val kb = batchUnique
                .select(hashBucket(nBuckets, col(idCol)).as("__kb"))
                .distinct().collect().map(_.getLong(0)).toSeq
              if (kb.isEmpty) fresh0
              else fresh0.join(
                spark.read.parquet(docsDir.toString)
                  .where(col("__kb").isin(kb: _*))
                  .select(col(idCol).as("__eid")),
                fresh0(idCol) <=> col("__eid"), "left_anti")
            } else fresh0
          fresh.persist()
          // ---- containment tier: drop batch docs whose shingle set
          // is contained in a STORED doc (the LSH planes can't see
          // these — Jaccard vs a much longer container is ≈ 0)
          val survivors = minContainment match {
            case Some(t) if planeHasData(fs, shinglesDir, "__shb") =>
              val cdrops = containmentDropIds(spark, shinglesDir,
                docshDir, fresh, idCol, textCol, shingleSize, t, nBuckets)
              fresh.join(cdrops, fresh(idCol) <=> cdrops("__cdid"),
                "left_anti").persist()
            case _ => fresh
          }
          try {
            val n = survivors.count()
            if (n > 0) {
              // write order is a crash-safety invariant: bands, sigs
              // and the containment planes FIRST (duplicate rows from
              // a torn replay are tolerated — set-like collisions,
              // max-per-id sig/set fetch), docs LAST (the serving
              // plane whose id anti-join provides exactly-once). The
              // reverse order would let a crash strand committed docs
              // with no band rows — permanently invisible to future
              // near-dup probes. Band/sig rows are the PROBED frames
              // filtered to survivors — written rows are bit-identical
              // to what the probe spelling produces, by construction.
              val freshIds = survivors.select(col(idCol))
              batchBands
                .join(freshIds, batchBands(idCol) <=> freshIds(idCol), "left_semi")
                .write.mode(SaveMode.Append)
                .partitionBy("__bb").parquet(bandsDir.toString)
              batchSigs
                .join(freshIds, batchSigs(idCol) <=> freshIds(idCol), "left_semi")
                .withColumn("__sb", hashBucket(nBuckets, col(idCol)))
                .write.mode(SaveMode.Append)
                .partitionBy("__sb").parquet(sigsDir.toString)
              if (minContainment.isDefined) {
                // same spelling as the probe reads (containmentShingles)
                val survSets = Dedup.containmentShingles(survivors,
                  idCol, textCol, shingleSize)
                  .select(col("id").as(idCol), col("__shs")).persist()
                try {
                  survSets.select(col(idCol), explode(col("__shs")).as("sh"))
                    .withColumn("__shb", hashBucket(nBuckets, col("sh")))
                    .write.mode(SaveMode.Append)
                    .partitionBy("__shb").parquet(shinglesDir.toString)
                  survSets
                    .withColumn("__db", hashBucket(nBuckets, col(idCol)))
                    .write.mode(SaveMode.Append)
                    .partitionBy("__db").parquet(docshDir.toString)
                } finally survSets.unpersist()
              }
              survivors.write.mode(SaveMode.Append)
                .partitionBy("__kb").parquet(docsDir.toString)
            }
            (n, nothingAfter)
          } finally {
            if (!(survivors eq fresh)) survivors.unpersist()
            fresh.unpersist()
          }
        } finally {
          hitsRef.foreach(_.unpersist())
          batchBands.unpersist()
          batchSigs.unpersist()
        }
      } finally batchUnique.unpersist()
    }
  }

  /** The surviving documents of a [[nearDupAppendSink]] target (the
    * `docs/` plane; `__kb` exposed for pruned keyed reads).
    */
  def readNearDupTarget(spark: SparkSession, targetDir: String): DataFrame =
    spark.read.parquet(new Path(targetDir, "docs").toString)

  /** Bootstrap a [[nearDupAppendSink]] target from an EXISTING
    * (already-deduplicated) corpus — the operational entry point for
    * turning a batch-built 100 TB corpus into a streaming dedup target
    * WITHOUT replaying it through micro-batches: one pass writes the
    * three planes with the sink's own shared band-plane builder (one
    * spelling via [[graft.ops.Dedup.bandCells]]), so subsequent sink
    * waves probe it exactly as if the sink had built it. The corpus is
    * written as-is — run the batch dedup ops first if it may contain
    * duplicates; no commit markers are created (markers belong to the
    * CHECKPOINT's numbering, which starts fresh). The band geometry
    * (numHashes, shingleSize, bands, nBuckets) is recorded in a
    * `_graft_geometry` marker and ENFORCED on every later entry — a
    * mismatched sink run fails loudly instead of silently losing recall.
    * Returns the number of documents bootstrapped.
    */
  def bootstrapNearDupTarget(spark: SparkSession, corpus: DataFrame,
                             idCol: String, textCol: String, targetDir: String,
                             numHashes: Int = 32, shingleSize: Int = 3,
                             bands: Int = 8, nBuckets: Int = 64,
                             minContainment: Option[Double] = None): Long = {
    import org.apache.spark.sql.functions._
    import graft.ops.{Dedup, TextOps}
    require(nBuckets > 0, "nBuckets must be positive")
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    minContainment.foreach(t => require(t > 0.0 && t <= 1.0,
      "minContainment must be in (0, 1]"))
    val rowsPerBand = numHashes / bands
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    // bootstrap is the target's BIRTH: appending into an existing target
    // would bypass the sink's dedup probes (and break the plane count).
    // ALL planes are checked — a mid-bootstrap crash lands bands
    // (written first) and possibly later planes with no docs; a
    // docs-only check would let a rerun silently double those planes.
    for ((plane, pc) <- Seq("docs" -> "__kb", "bands" -> "__bb", "sigs" -> "__sb",
        "shingles" -> "__shb", "docsh" -> "__db"))
      require(!planeHasData(fs,
        new Path(targetPath, plane), pc),
        s"bootstrapNearDupTarget requires an empty target, found $plane under " +
          s"$targetDir (after a crashed bootstrap, delete the target and rerun)")
    checkOrWriteMarker(fs, targetPath, "_graft_geometry", "near-dup",
      s"numHashes=$numHashes,shingleSize=$shingleSize,bands=$bands," +
        s"nBuckets=$nBuckets,containment=${if (minContainment.isDefined) "on" else "off"}")
    // empty corpus: nothing to write, and the plane count below would
    // fail on a part-less parquet dir — the datasheet answer is just 0
    if (corpus.isEmpty) return 0L
    val sigs = Dedup.minhashSignatures(corpus, idCol, textCol,
      numHashes, shingleSize).persist()
    try {
      nearDupBandRows(idCol, textCol, sigs, corpus, bands, rowsPerBand, nBuckets)
        .write.mode(SaveMode.Append).partitionBy("__bb")
        .parquet(new Path(targetPath, "bands").toString)
      sigs.withColumn("__sb", hashBucket(nBuckets, col(idCol)))
        .write.mode(SaveMode.Append).partitionBy("__sb")
        .parquet(new Path(targetPath, "sigs").toString)
      if (minContainment.isDefined) {
        // containment planes (one spelling: containmentShingles, the
        // frame the sink's probe reads back)
        val sets = Dedup.containmentShingles(corpus, idCol, textCol,
          shingleSize).select(col("id").as(idCol), col("__shs")).persist()
        try {
          sets.select(col(idCol), explode(col("__shs")).as("sh"))
            .withColumn("__shb", hashBucket(nBuckets, col("sh")))
            .write.mode(SaveMode.Append).partitionBy("__shb")
            .parquet(new Path(targetPath, "shingles").toString)
          sets.withColumn("__db", hashBucket(nBuckets, col(idCol)))
            .write.mode(SaveMode.Append).partitionBy("__db")
            .parquet(new Path(targetPath, "docsh").toString)
        } finally sets.unpersist()
      }
      val docsPath = new Path(targetPath, "docs").toString
      corpus.withColumn("__kb", hashBucket(nBuckets, col(idCol)))
        .write.mode(SaveMode.Append).partitionBy("__kb").parquet(docsPath)
      // count from the WRITTEN plane: parquet answers from footer metadata,
      // vs re-scanning the source corpus a fourth time
      spark.read.parquet(docsPath).count()
    } finally sigs.unpersist()
  }

  // ------------------------------------------------------------------
  // MEDIA signature dedup sink
  // ------------------------------------------------------------------

  /** 4 cell rows per non-null signature: (chunk, bucket, sig, id,
    * `__cb` = chunk·cellBuckets + bucket mod cellBuckets) — one builder
    * shared by the sink's probe and the bootstrap writer.
    */
  private def sigCellRows(df: DataFrame, idCol: String, sigCol: String,
                          cellBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    // chunking is graft.ops.Dedup.chunk16Cells — the SAME spelling the
    // batch banding uses, so the stored plane and every probe can never
    // drift apart (the bandCells convention)
    df.filter(col(sigCol).isNotNull)
      .select(col(idCol), col(sigCol).as("sig"),
        graft.ops.Dedup.chunk16Cells(sigCol).as("__c"))
      .select(col(idCol), col("sig"), col("__c.chunk").as("chunk"),
        col("__c.bucket").as("bucket"))
      .withColumn("__cb",
        col("chunk") * cellBuckets + pmod(col("bucket"), lit(cellBuckets.toLong)))
  }

  /** MEDIA near-dup APPEND-ONLY sink — the 64-bit-signature sibling of
    * [[nearDupAppendSink]] for image/audio corpora (the LAION-style
    * ingest step): the caller projects a perceptual signature onto the
    * stream first (image dHash / audio fingerprint — stateless codegen
    * expressions, so the projection runs unchanged under Structured
    * Streaming), and the sink appends only documents that are neither
    * exact nor Hamming-near (≤ `maxDistance`) duplicates of stored ones.
    *
    * Target layout, both planes partition-pruned per batch:
    *   - `docs/` — the serving rows (every batch column), partitioned by
    *     `__kb = pmod(xxhash64(id), nBuckets)`;
    *   - `cells/` — [[sigCellRows]]: 4 rows per signature, partitioned
    *     by `__cb`. Each cell row CARRIES the full signature AND the id,
    *     so — unlike the text LSH planes — verification needs no second
    *     fetch (`bit_count(sig ⊕ stored)` on the collision row itself)
    *     and a torn replay's own rows are excluded by id, not by a
    *     separate plane read.
    *
    * Candidates are COMPLETE for maxDistance ≤ 3 (pigeonhole over the
    * four 16-bit chunks — [[graft.ops.Dedup.hamming64Pairs]]'s rule;
    * exact duplicates are distance 0 on the same probe). NULL
    * signatures (payloads no decoder claimed) skip near-dedup but keep
    * id-level idempotence. Within-batch dups resolve first: exact
    * winner per signature, then the greedy smaller-id-survives near
    * rule ([[graft.ops.Dedup.dropNearDuplicates]]' convention).
    *
    * Write order is the [[nearDupAppendSink]] crash-safety invariant:
    * cells FIRST (duplicate cell rows from a torn replay are tolerated —
    * collision semantics are set-like and self-collisions are id-
    * excluded), docs LAST (the id anti-join provides exactly-once), all
    * under the commit fence ([[fenced]]); `_graft_sig_geometry` records
    * the layout and fails loudly on mismatch. Returns documents appended
    * across this invocation.
    */
  def signatureAppendSink(spark: SparkSession, stream: DataFrame,
                          idCol: String, sigCol: String, targetDir: String,
                          checkpointDir: String, maxDistance: Int = 2,
                          nBuckets: Int = 64,
                          cellBuckets: Int = 256): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(maxDistance >= 0 && maxDistance <= 3,
      s"16-bit chunk banding is complete only for distance <= 3, got $maxDistance")
    require(nBuckets > 0 && cellBuckets > 0, "bucket counts must be positive")
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    checkOrWriteMarker(fs, targetPath, "_graft_sig_geometry", "signature-dedup",
      s"idCol=$idCol,sigCol=$sigCol,nBuckets=$nBuckets,cellBuckets=$cellBuckets")
    val docsDir = new Path(targetPath, "docs")
    val cellsDir = new Path(targetPath, "cells")
    fenced(stream, targetDir, checkpointDir) { (batch, _) =>
      // within-batch: exact winner per signature (null-sig rows are
      // each their own group — no decoder claimed them, they can't
      // be dups of each other), then the greedy near rule
      val wExact = Window
        .partitionBy(col(sigCol),
          when(col(sigCol).isNull, col(idCol)))
        .orderBy(col(idCol))
      val batchExact = batch.withColumn("__rn", row_number().over(wExact))
        .filter(col("__rn") === 1).drop("__rn")
      val nearPairs = graft.ops.Dedup.hamming64Pairs(
        batchExact.select(col(idCol), col(sigCol)),
        idCol, sigCol, maxDistance)
      val batchUnique = batchExact.join(
          nearPairs.select(col("id_b").as("__nb")).distinct(),
          batchExact(idCol) <=> col("__nb"), "left_anti")
        .persist()
      try {
        val batchCells = sigCellRows(batchUnique, idCol, sigCol,
          cellBuckets).persist()
        try {
          // ---- corpus probe: partition-pruned cell collisions,
          // verified in place (the cell row carries the signature)
          val drops =
            if (planeHasData(fs, cellsDir, "__cb")) {
              // ≤ 4·cellBuckets small longs — bounded driver traffic
              val cb = batchCells.select("__cb").distinct()
                .collect().map(_.getLong(0)).toSeq
              val stored = spark.read.parquet(cellsDir.toString)
                .where(col("__cb").isin(cb: _*)) // partition-pruned
                .select(col("chunk"), col("bucket"),
                  col("sig").as("__csig"), col(idCol).as("__cid"))
              batchCells.join(stored, Seq("chunk", "bucket"))
                // torn replay: this batch's own cells may be stored
                // already — a doc must never collide with itself
                .filter(!(col(idCol) <=> col("__cid")))
                .filter(expr("bit_count(sig ^ __csig)") <= maxDistance)
                .select(col(idCol).as("__did")).distinct()
            } else batchCells.select(col(idCol).as("__did")).limit(0)
          val fresh0 = batchUnique.join(drops,
            batchUnique(idCol) <=> col("__did"), "left_anti")
            .withColumn("__kb", hashBucket(nBuckets, col(idCol)))
          // id-level idempotence (torn-replay re-drop), bucket-pruned
          val fresh =
            if (planeHasData(fs, docsDir, "__kb")) {
              val kb = batchUnique
                .select(hashBucket(nBuckets, col(idCol)).as("__kb"))
                .distinct().collect().map(_.getLong(0)).toSeq
              if (kb.isEmpty) fresh0
              else fresh0.join(
                spark.read.parquet(docsDir.toString)
                  .where(col("__kb").isin(kb: _*))
                  .select(col(idCol).as("__eid")),
                fresh0(idCol) <=> col("__eid"), "left_anti")
            } else fresh0
          fresh.persist()
          try {
            val n = fresh.count()
            if (n > 0) {
              val freshIds = fresh.select(col(idCol))
              batchCells.join(freshIds,
                  batchCells(idCol) <=> freshIds(idCol), "left_semi")
                .write.mode(SaveMode.Append).partitionBy("__cb")
                .parquet(cellsDir.toString)
              fresh.write.mode(SaveMode.Append).partitionBy("__kb")
                .parquet(docsDir.toString)
            }
            (n, nothingAfter)
          } finally fresh.unpersist()
        } finally batchCells.unpersist()
      } finally batchUnique.unpersist()
    }
  }

  /** The serving corpus of a [[signatureAppendSink]] target. */
  def readSignatureTarget(spark: SparkSession, targetDir: String): DataFrame =
    spark.read.parquet(new Path(targetDir, "docs").toString)

  /** Bootstrap a [[signatureAppendSink]] target from an EXISTING
    * (already-deduplicated) media corpus — [[bootstrapNearDupTarget]]'s
    * signature sibling: one pass writes both planes with the sink's own
    * cell builder, records `_graft_sig_geometry`, and creates no commit
    * markers (markers belong to the checkpoint's numbering). The corpus
    * is written as-is — run the batch dedup ops first if it may contain
    * duplicates. Returns the number of documents bootstrapped.
    */
  def bootstrapSignatureTarget(spark: SparkSession, corpus: DataFrame,
                               idCol: String, sigCol: String,
                               targetDir: String, nBuckets: Int = 64,
                               cellBuckets: Int = 256): Long = {
    import org.apache.spark.sql.functions._
    require(nBuckets > 0 && cellBuckets > 0, "bucket counts must be positive")
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    for ((plane, pc) <- Seq("docs" -> "__kb", "cells" -> "__cb"))
      require(!planeHasData(fs,
        new Path(targetPath, plane), pc),
        s"bootstrapSignatureTarget requires an empty target, found $plane under " +
          s"$targetDir (after a crashed bootstrap, delete the target and rerun)")
    checkOrWriteMarker(fs, targetPath, "_graft_sig_geometry", "signature-dedup",
      s"idCol=$idCol,sigCol=$sigCol,nBuckets=$nBuckets,cellBuckets=$cellBuckets")
    if (corpus.isEmpty) return 0L
    sigCellRows(corpus, idCol, sigCol, cellBuckets)
      .write.mode(SaveMode.Append).partitionBy("__cb")
      .parquet(new Path(targetPath, "cells").toString)
    val docsPath = new Path(targetPath, "docs").toString
    corpus.withColumn("__kb", hashBucket(nBuckets, col(idCol)))
      .write.mode(SaveMode.Append).partitionBy("__kb").parquet(docsPath)
    spark.read.parquet(docsPath).count()
  }

  /** Streaming UPDATE-IN-PLACE upsert (SCD1 over a stream) on plain
    * parquet, composed of two patterns: the dedup sink's hash-bucket layout
    * (per-batch cost ∝ touched buckets) and [[aggStateSink]]'s versioned
    * directories under the commit fence (plain parquet has no atomic
    * overwrite; versions + markers give crash-safe exactly-once). The
    * result is copy-on-write at BUCKET granularity — the same granularity
    * trick Delta/Iceberg use at file level, expressed with directory
    * renames:
    *
    * Layout: `targetDir/b<bucket>/v<batchId>/part-*.parquet` where
    * `bucket = pmod(xxhash64(key), nBuckets)` (stored in-row as `__kb`),
    * plus the fence's commit markers ([[fenced]]). A bucket's SERVING
    * content is its highest version whose batchId is committed; an
    * uncommitted (torn) version directory is invisible to readers.
    *
    * Per micro-batch:
    *   1. resolve the batch's winners per key (largest `orderCol` wins —
    *      [[graft.ops.ScaleOps.upsert]] MERGE semantics; NULL keys are
    *      rejected row-level like every MERGE in this engine);
    *   2. read ONLY the touched buckets' current versions (ids collected
    *      to the driver: ≤ nBuckets longs, bounded by design);
    *   3. MERGE batch into them and write the touched buckets' FULL new
    *      content as `v<batchId>` (one partitioned job, then one rename
    *      per bucket — metadata ops, no data copy);
    *   4. commit through the fence ([[fenced]]), then prune each touched
    *      bucket's committed versions beyond `keepVersions`.
    *
    * A crash anywhere before the marker leaves only uncommitted
    * `v<batchId>` dirs that readers ignore and the replay overwrites
    * (same-batch replays touch the same buckets — the file source replays
    * identical input). Untouched buckets are never opened, never
    * rewritten: at 100 TB with buckets sized to a few GB, an upsert wave
    * costs its buckets, not the corpus. Commit markers accumulate one
    * empty file per batch (a long-retention target can archive markers
    * below the per-bucket version floor offline).
    *
    * Returns the number of micro-batches applied (replays contribute 0).
    * Serve with [[readUpsertTarget]].
    */
  def upsertSink(spark: SparkSession, stream: DataFrame, keyCol: String,
                 orderCol: String, targetDir: String, checkpointDir: String,
                 nBuckets: Int = 256, keepVersions: Int = 2): Long = {
    import org.apache.spark.sql.functions._
    require(nBuckets > 0, "nBuckets must be positive")
    require(keepVersions >= 1, "keepVersions must be at least 1")
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    checkOrWriteMarker(fs, targetPath, "_graft_upsert_geometry", "upsert",
      s"keyCol=$keyCol,nBuckets=$nBuckets")
    fenced(stream, targetDir, checkpointDir) { (batch, batchId) =>
      val batchKb = batch
        .withColumn(bucketCol, pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)))
        .persist() // bucket discovery + merge read it once each
      try {
        // ≤ nBuckets small longs — bounded driver traffic by design.
        // Null keys: xxhash64(NULL) evaluates to its seed (42), so a
        // null-keyed row gets a valid bucket here and is then rejected
        // row-level by ScaleOps.upsert's MERGE null check during the
        // write job — the batch fails loudly before any rename.
        val touched = batchKb.select(bucketCol).distinct().collect()
          .map(_.getLong(0)).toSeq
        val committed = committedVersions(fs, targetPath).toSet
        val currentPaths = touched.flatMap(b =>
          latestVersion(fs, new Path(targetPath, s"b$b"), committed))
        val merged =
          if (currentPaths.isEmpty)
            graft.ops.ScaleOps.upsert(
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                batchKb.schema),
              batchKb, Seq(keyCol), Some(orderCol))
          else
            graft.ops.ScaleOps.upsert(
              spark.read.parquet(currentPaths: _*),
              batchKb, Seq(keyCol), Some(orderCol))
        publishBuckets(fs, merged, targetPath,
          new Path(targetPath, s"_graft_upsert_tmp_v$batchId"), batchId)
        (1L, () => pruneBuckets(fs, targetPath, touched, committed + batchId,
          keepVersions))
      } finally batchKb.unpersist()
    }
  }

  /** The latest COMMITTED content of an [[upsertSink]] target: per bucket,
    * the highest committed version (torn/uncommitted version directories
    * are ignored). One multi-path parquet scan — the `__kb` in-row column
    * is exposed so keyed readers can prune to `pmod(xxhash64(key),
    * nBuckets)` themselves.
    */
  def readUpsertTarget(spark: SparkSession, targetDir: String): DataFrame = {
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    val latest = latestBuckets(fs, targetPath, committedVersions(fs, targetPath).toSet)
    if (latest.isEmpty) throw new IllegalStateException(
      s"no committed upsert state under $targetDir")
    spark.read.parquet(latest: _*)
  }

  // ---- the bucketed layout (upsertSink, sessionSink's open plane):
  // `<root>/b<bucket>/v<batchId>/`, a version served once committed

  private def bucketVersions(fs: FileSystem, bucketDir: Path): Seq[Long] =
    if (!fs.exists(bucketDir)) Seq.empty
    else fs.listStatus(bucketDir).toSeq.flatMap(
      _.getPath.getName.stripPrefix("v").toLongOption)

  private def latestVersion(fs: FileSystem, bucketDir: Path,
                            committed: Set[Long]): Option[String] =
    bucketVersions(fs, bucketDir).filter(committed).maxOption
      .map(v => new Path(bucketDir, s"v$v").toString)

  /** The newest committed version of every bucket under `root`. */
  private def latestBuckets(fs: FileSystem, root: Path,
                            committed: Set[Long]): Seq[String] =
    fs.globStatus(new Path(root, "b*")).toSeq.filter(_.isDirectory)
      .flatMap(b => latestVersion(fs, b.getPath, committed))

  /** Writes `df` as version `v<batchId>` of each bucket it holds: one job
    * partitioned by `__kbp`, a throwaway copy of [[bucketCol]] (partitionBy
    * strips its column from the files, and `__kb` must stay in-row for
    * readers and later merges), into the `_`-prefixed `tmp`, then one
    * rename per bucket into `<root>/b<k>/v<batchId>`, replacing a torn
    * attempt's directory.
    */
  private def publishBuckets(fs: FileSystem, df: DataFrame, root: Path,
                             tmp: Path, batchId: Long): Unit = {
    df.withColumn("__kbp", org.apache.spark.sql.functions.col(bucketCol))
      .write.mode(SaveMode.Overwrite).partitionBy("__kbp").parquet(tmp.toString)
    fs.globStatus(new Path(tmp, "__kbp=*")).filter(_.isDirectory).foreach { d =>
      val bucketDir = new Path(root, s"b${d.getPath.getName.stripPrefix("__kbp=")}")
      val dest = new Path(bucketDir, s"v$batchId")
      fs.mkdirs(bucketDir)
      fs.delete(dest, true)
      require(fs.rename(d.getPath, dest), s"rename failed: ${d.getPath} -> $dest")
    }
    fs.delete(tmp, true)
  }

  /** Bucketed retention: each touched bucket keeps its newest `keep`
    * committed versions.
    */
  private def pruneBuckets(fs: FileSystem, root: Path, touched: Seq[Long],
                           committed: Set[Long], keep: Int): Unit =
    touched.foreach { b =>
      val bucketDir = new Path(root, s"b$b")
      bucketVersions(fs, bucketDir).filter(committed).sorted.reverse.drop(keep)
        .foreach(old => fs.delete(new Path(bucketDir, s"v$old"), true))
    }

  /** Flat retention (aggStateSink, topkStateSink): a state directory keeps
    * its newest `keep` committed versions `v<batchId>`; older versions go
    * with their markers.
    */
  private def pruneVersions(fs: FileSystem, statePath: Path, keep: Int): Unit =
    committedVersions(fs, statePath).sorted.reverse.drop(keep).foreach { old =>
      fs.delete(new Path(statePath, s"v$old"), true)
      fs.delete(new Path(commitsDir(statePath), old.toString), false)
    }

  /** Streaming materialized-view maintenance: fold each micro-batch into a
    * persistent [[graft.ops.AggState]] state table — the end-to-end form
    * of the incremental-aggregate story (q96 proves the algebra; this is
    * the continuous refresh). Per batch: build the batch's partial state
    * (cost ∝ batch), merge it with the stored state (cost ∝ |groups|,
    * never history), and write the result as a NEW VERSION directory
    * `v<batchId>` committed by the fence's marker ([[fenced]]) — plain
    * parquet has no atomic overwrite, so versions + markers give
    * crash-safe exactly-once: a crash between data and marker leaves an
    * uncommitted directory that [[readAggState]] ignores and the replay
    * overwrites. Older committed
    * versions beyond `keepVersions` are pruned after each commit (readers
    * of the LATEST version are unaffected; run long-retention readers
    * against their own pinned version like any versioned-artifact
    * consumer). Serving = `AggState.finalizeState(readAggState(...))`,
    * a pure projection.
    *
    * Returns the number of batches applied (not counting replays).
    */
  def aggStateSink(spark: SparkSession, stream: DataFrame,
                   keyCols: Seq[String], valueCol: String,
                   stateDir: String, checkpointDir: String,
                   scale: Int = 4, keepVersions: Int = 2): Long = {
    import graft.ops.AggState
    require(keyCols.nonEmpty, "aggStateSink needs at least one key column")
    require(keepVersions >= 1, "keepVersions must be at least 1")
    val (statePath, fs) = hadoopFs(spark, stateDir)
    fenced(stream, stateDir, checkpointDir) { (batch, batchId) =>
      val batchState = AggState.build(batch, keyCols, valueCol, scale)
      val merged = latestCommittedVersion(fs, statePath) match {
        case Some(v) =>
          val current = spark.read.parquet(new Path(statePath, s"v$v").toString)
          AggState.merge(keyCols, current, batchState)
        case None => batchState
      }
      // Overwrite handles a crashed earlier attempt at this version
      merged.write.mode(SaveMode.Overwrite)
        .parquet(new Path(statePath, s"v$batchId").toString)
      (1L, () => pruneVersions(fs, statePath, keepVersions))
    }
  }

  /** Streaming ANN index maintenance: fold each micro-batch of embeddings
    * into a persisted [[graft.ops.Ivf.saveIndex]] layout via
    * `Ivf.appendToIndex` — continuously-arriving vectors become searchable
    * one trigger after they land, without rebuilding the index (the 100 TB
    * ingest-to-serving path: build once offline, append forever, rebuild
    * only on [[graft.ops.Ivf.indexStats]] drift).
    *
    * Exactly-once at VECTOR level under the commit fence ([[fenced]]): a
    * replay that crashed between append and marker re-runs with
    * `dedupeIds = true`, so the batch anti-joins against the ids already
    * in the lists its vectors hash into — `__cid` partition pruning keeps
    * that probe ∝ touched lists, not index size (the [[dedupAppendSink]]
    * bucket shape with centroid ids as buckets).
    *
    * Centroids stay frozen across waves (the appendToIndex drift
    * contract); quantized layouts are preserved per its layout dispatch.
    * Returns vectors appended across this invocation (replays contribute
    * 0).
    */
  def annIndexSink(spark: SparkSession, stream: DataFrame,
                   idCol: String, vecCol: String,
                   indexDir: String, checkpointDir: String): Long =
    annIndexSinkImpl(spark, stream, idCol, vecCol, indexDir, checkpointDir,
      trackCids = false)._1

  /** [[annIndexSink]] that also accumulates the distinct `__cid`s the
    * run's waves appended into — [[annIndexSinkWithPolicy]] hands them
    * to the compaction tier so it lists only the touched lists
    * (O(batch), not O(k) directory listings per run).
    */
  private def annIndexSinkImpl(spark: SparkSession, stream: DataFrame,
                               idCol: String, vecCol: String,
                               indexDir: String, checkpointDir: String,
                               trackCids: Boolean): (Long, Seq[Int]) = {
    val cids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val appended = fenced(stream, indexDir, checkpointDir) { (batch, _) =>
      val (n, hit) = graft.ops.Ivf.appendToIndexTracked(
        spark, indexDir, batch, idCol, vecCol, dedupeIds = true,
        trackCids = trackCids)
      hit.foreach(cids.add)
      (n, nothingAfter)
    }
    (appended, cids.toArray(Array.empty[Integer]).map(_.toInt).toSeq)
  }

  /** Rebuild-trigger policy for [[annIndexSinkWithPolicy]]: the index is
    * due for an offline rebuild when list-size skew (max/median over
    * nonempty lists) exceeds `maxSkew`, or the nonempty-list fraction
    * falls below `minNonemptyFrac` (dead probe capacity — most centroids
    * own nothing while appends pile onto a few lists). Independently,
    * lists that accumulated more than `maxFilesPerList` appended files
    * are folded by [[graft.ops.Ivf.compactIndex]] after a non-rebuild
    * appending wave (a rebuild rewrites everything anyway) — the
    * small-file middle tier between per-wave appends and a rebuild.
    */
  final case class AnnDriftPolicy(maxSkew: Double = 8.0,
                                  minNonemptyFrac: Double = 0.25,
                                  maxFilesPerList: Int = 16)

  /** What [[annIndexSinkWithPolicy]] did: vectors appended, the health
    * numbers that drove the decision, where the CURRENT index now
    * lives (`rebuildDir` after a rebuild, `indexDir` otherwise — the
    * caller owns the serving pointer flip, see
    * [[graft.ops.Ivf.rebuildIndex]]), and how many over-fragmented
    * (directory, list) pairs were compacted.
    */
  final case class AnnSinkReport(appended: Long, skew: Double,
                                 nonemptyFrac: Double, rebuilt: Boolean,
                                 currentDir: String, compacted: Int = 0)

  /** [[annIndexSink]] plus the drift contract closed: after a wave that
    * appended anything, evaluate [[graft.ops.Ivf.indexStats]] against
    * `policy` and trigger [[graft.ops.Ivf.rebuildIndex]] into
    * `rebuildDir` when it trips — unbounded streaming appends onto
    * frozen centroids can no longer degrade probe cost and recall
    * silently. Health-check cost: ONE aggregate scan of the stored
    * assignment per APPENDING wave (k-sized output; pure-replay waves
    * skip it entirely — markers make them no-ops, and the index they
    * would measure is unchanged); the rebuild itself is the documented
    * rebuild-to-new-path + pointer-flip protocol.
    */
  def annIndexSinkWithPolicy(spark: SparkSession, stream: DataFrame,
                             idCol: String, vecCol: String,
                             indexDir: String, checkpointDir: String,
                             policy: AnnDriftPolicy,
                             rebuildDir: String): AnnSinkReport = {
    val (appended, touchedCids) = annIndexSinkImpl(spark, stream, idCol,
      vecCol, indexDir, checkpointDir, trackCids = true)
    if (appended == 0L)
      return AnnSinkReport(0L, 0.0, 1.0, rebuilt = false, indexDir)
    val index = graft.ops.Ivf.loadIndex(spark, indexDir, idCol)
    val st = graft.ops.Ivf.indexStats(index).head()
    val skew = st.getAs[Double]("skew")
    val frac = st.getAs[Long]("n_nonempty").toDouble /
      math.max(st.getAs[Int]("n_lists"), 1)
    if (skew > policy.maxSkew || frac < policy.minNonemptyFrac) {
      graft.ops.Ivf.rebuildIndex(spark, indexDir, rebuildDir, idCol)
      AnnSinkReport(appended, skew, frac, rebuilt = true, rebuildDir)
    } else {
      // second maintenance tier: the stream has drained (AvailableNow),
      // so no concurrent writer — safe window for the offline compaction.
      // Restricted to the run's touched lists: only they can have newly
      // crossed the threshold, so maintenance stays O(batch), not O(k)
      val folded = graft.ops.Ivf.compactIndex(spark, indexDir,
        policy.maxFilesPerList, onlyCids = touchedCids)
      AnnSinkReport(appended, skew, frac, rebuilt = false, indexDir,
        compacted = folded)
    }
  }

  /** Streaming top-k heavy-hitters maintenance: fold each micro-batch
    * into a persisted [[graft.ops.Sketches.topkSketch]] register state
    * — the frequent-items sibling of the [[aggStateSink]]+hdrBucketize
    * HDR lane. The sketch build needs windows over the batch's exact
    * count plane, which a streaming query plan cannot express, so each
    * batch is summarized INSIDE the fenced batch body (batch context — the same
    * place [[aggStateSink]] runs `AggState.build`) to a bounded LEAF
    * (≤ k item rows + 1 meta row per group), exploded to registers
    * (group…, item, reg ∈ {cnt, tseen}, v), and merged into the stored
    * state by register SUM — exactly [[graft.ops.Sketches.topkMerge]],
    * so the stored state equals a batch merge of the same per-wave
    * leaves register-for-register (asserted in StreamingAggSpec).
    * Versioned directories under the commit fence give the
    * [[aggStateSink]] crash-safe exactly-once contract verbatim. Serve with
    * [[graft.ops.Sketches.topkFromRegisters]](readAggState(...)) →
    * `topkHeavyHitters`.
    *
    * State cost: ∝ waves·k rows per group, NEVER history; run
    * [[graft.ops.Sketches.topkCompact]] offline when a long-lived
    * deployment's state outgrows its serving budget.
    *
    * Returns the number of batches applied (not counting replays).
    */
  def topkStateSink(spark: SparkSession, stream: DataFrame,
                    groupCols: Seq[String], itemCol: String, k: Int,
                    stateDir: String, checkpointDir: String,
                    keepVersions: Int = 2): Long = {
    import org.apache.spark.sql.functions._
    import graft.ops.Sketches
    require(k >= 1, s"topkStateSink needs k >= 1, got $k")
    require(keepVersions >= 1, "keepVersions must be at least 1")
    val keyCols = groupCols ++ Seq("item", "reg")
    val (statePath, fs) = hadoopFs(spark, stateDir)
    fenced(stream, stateDir, checkpointDir) { (batch, batchId) =>
      val leaf = Sketches.topkRegisters(
        Sketches.topkSketch(batch, groupCols, itemCol, k), groupCols)
        .withColumn("v", col("v").cast("bigint"))
      val merged = latestCommittedVersion(fs, statePath) match {
        case Some(ver) =>
          val current = spark.read.parquet(new Path(statePath, s"v$ver").toString)
          current.unionByName(leaf)
            .groupBy(keyCols.map(col): _*)
            .agg(coalesce(sum(col("v")).cast("bigint"), lit(0L)).as("v"))
        case None => leaf
      }
      merged.write.mode(SaveMode.Overwrite)
        .parquet(new Path(statePath, s"v$batchId").toString)
      (1L, () => pruneVersions(fs, statePath, keepVersions))
    }
  }

  /** The latest COMMITTED aggregate state written by [[aggStateSink]]
    * (uncommitted / torn version directories are ignored). Feed the
    * result to `AggState.finalizeState` for serving metrics.
    */
  def readAggState(spark: SparkSession, stateDir: String): DataFrame = {
    val (statePath, fs) = hadoopFs(spark, stateDir)
    latestCommittedVersion(fs, statePath) match {
      case Some(v) => spark.read.parquet(new Path(statePath, s"v$v").toString)
      case None => throw new IllegalStateException(
        s"no committed aggregate state under $stateDir")
    }
  }

  /** Streaming ExactSubstr span-dedup sink — the incremental flavor of
    * [[graft.ops.TextOps.dupSpans]] (Lee et al. 2022): each arriving
    * document lands in `docs/` with its duplicated-span catalog computed
    * against EVERYTHING INGESTED SO FAR plus the batch itself, and the
    * corpus k-gram digest plane under `grams/` grows by the batch's new
    * digests.
    *
    * Marking rule per k-token window of a batch doc: duplicated iff its
    * md5 digest already exists in `grams/` OR occurs ≥ 2 times within
    * the batch. For a NEW document this equals the batch [[graft.ops
    * .TextOps.dupSpans]] over (ingested corpus ∪ batch) restricted to
    * that document (spec-asserted); already-ingested documents are NOT
    * retro-marked when later duplicates arrive — the append-only
    * first-wins contract every sink here shares.
    *
    * Layout + scale: `grams/` is partitioned by
    * `__bkt = pmod(xxhash64(digest), nBuckets)`; a batch reads only its
    * hit buckets (≤ nBuckets small longs to the driver), so the
    * existing-digest join prunes to batch-relevant state. `docs/`
    * partitions by a doc-id bucket and anti-joins existing ids, so a
    * crash-replayed batch is id-idempotent (the [[dedupAppendSink]]
    * contract); the `grams/` plane tolerates replay duplicates (marking
    * joins de-duplicate) and still anti-joins to keep steady-state
    * growth digest-distinct. Batches commit through the fence
    * ([[fenced]]); `_graft_dupspan_geometry` pins (k, nBuckets) — a
    * different k would silently mark nothing against old digests.
    *
    * @return documents appended across this invocation
    */
  def dupSpanAppendSink(spark: SparkSession, stream: DataFrame,
                        idCol: String, textCol: String, targetDir: String,
                        checkpointDir: String, k: Int = 8,
                        nBuckets: Int = 64): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(k >= 2, s"dupSpanAppendSink needs k >= 2, got $k")
    require(nBuckets > 0, "nBuckets must be positive")
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    checkOrWriteMarker(fs, targetPath, "_graft_dupspan_geometry",
      "dup-span", s"k=$k,nBuckets=$nBuckets,digest=md5")
    val gramsPath = new Path(targetPath, "grams")
    val docsPath = new Path(targetPath, "docs")
    fenced(stream, targetDir, checkpointDir) { (batch, _) =>
      val occ = graft.ops.TextOps.windowDigests(
          batch.select(col(idCol), col(textCol)), idCol, textCol, k)
        .withColumn("__bkt",
          pmod(xxhash64(col("__key")), lit(nBuckets.toLong)))
        .persist()
      try {
        val batchMarked = occ
          .withColumn("__n",
            count(lit(1)).over(Window.partitionBy("__key")))
          .filter(col("__n") > 1)
          .select(col(idCol), col("pos"))
        val gramsLive = planeHasData(fs, gramsPath, "__bkt")
        val hitBuckets =
          if (gramsLive) occ.select("__bkt").distinct()
            .collect().map(_.getLong(0)).toSeq
          else Seq.empty[Long]
        def existingKeys = spark.read.parquet(gramsPath.toString)
          .where(col("__bkt").isin(hitBuckets: _*))
          .select(col("__key").as("__ek"))
        val corpusMarked =
          if (gramsLive)
            occ.join(existingKeys, col("__key") === col("__ek"))
              .select(col(idCol), col("pos"))
          else occ.filter(lit(false)).select(col(idCol), col("pos"))
        val marked = batchMarked.union(corpusMarked).distinct()
        val spans = graft.ops.TextOps
          .mergeMarkedWindows(marked, idCol, k)
          .groupBy(col(idCol))
          .agg(sort_array(collect_list(
            struct(col("span_start"), col("span_end")))).as("dup_spans"),
            sum(col("span_end") - col("span_start")).as("dup_tokens"))
        val docRows = batch.select(col(idCol), col(textCol))
          .join(spans, Seq(idCol), "left")
          .select(col(idCol), col(textCol),
            coalesce(col("dup_spans"), typedLit(
              Seq.empty[(Long, Long)]).cast(
              "array<struct<span_start:bigint,span_end:bigint>>"))
              .as("dup_spans"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
          .withColumn("__dbkt",
            coalesce(pmod(xxhash64(col(idCol)), lit(nBuckets.toLong)),
              lit(0L)))
          .persist()
        val appended = try {
          // id-idempotent docs append (crash-replay safe)
          val freshDocs =
            if (planeHasData(fs, docsPath, "__dbkt")) {
              val dHit = docRows.select("__dbkt").distinct()
                .collect().map(_.getLong(0)).toSeq
              val ids = spark.read.parquet(docsPath.toString)
                .where(col("__dbkt").isin(dHit: _*))
                .select(col(idCol).as("__eid"))
              docRows.join(ids, docRows(idCol) <=> col("__eid"),
                "left_anti")
            } else docRows
          freshDocs.persist()
          try {
            val n = freshDocs.count()
            if (n > 0) freshDocs.write.mode(SaveMode.Append)
              .partitionBy("__dbkt").parquet(docsPath.toString)
            n
          } finally freshDocs.unpersist()
        } finally docRows.unpersist()
        // grow the digest plane by the batch's genuinely-new digests
        val batchKeys = occ.select(col("__key"), col("__bkt")).distinct()
        val freshKeys =
          if (gramsLive)
            batchKeys.join(existingKeys,
              col("__key") === col("__ek"), "left_anti")
          else batchKeys
        freshKeys.write.mode(SaveMode.Append)
          .partitionBy("__bkt").parquet(gramsPath.toString)
        (appended, nothingAfter)
      } finally occ.unpersist()
    }
  }

  /** Read a [[dupSpanAppendSink]] target's document plane. */
  def readDupSpanTarget(spark: SparkSession, targetDir: String): DataFrame =
    spark.read.parquet(new Path(targetDir, "docs").toString)
      .drop("__dbkt")

  /** Streaming INCREMENTAL SESSIONIZATION on plain parquet — the state
    * the watermarked `session_window` aggregation keeps in RocksDB,
    * maintained instead as a serveable parquet target (the
    * [[upsertSink]] copy-on-write pattern): sessions spanning a
    * micro-batch boundary MERGE, closed sessions append once, and the
    * result equals [[graft.ops.EventOps.sessionStats]] over the full
    * history (asserted on a mid-session split in SessionSinkSpec).
    *
    * Layout: `open/b<bucket>/v<batchId>/` holds ONE row per user — the
    * user's latest session (a session only closes when a LATER event
    * arrives ≥ gapUs after it, so the last one is always open) plus the
    * running `session_seq` counter that keeps ids deterministic across
    * batches; `closed/v<batchId>/` is the append-only closed-session
    * log; the commit fence ([[fenced]]) covers both planes (a torn write
    * is invisible to [[readSessionTarget]] and replays overwrite it).
    *
    * Per micro-batch: sessionize WITHIN the batch (one user-keyed
    * window pass, exact DECIMAL value sums); read ONLY the touched
    * users' buckets; merge the first batch session into the stored
    * open session when the boundary gap is < gapUs (ids shift by one
    * accordingly); everything but each user's last session appends to
    * the closed log; untouched buckets are never opened. Driver
    * traffic: the touched-bucket ids (≤ nBuckets longs) and one
    * emptiness probe on the skinny closed frame.
    *
    * Ordering contract: within a batch any order (the window sorts);
    * ACROSS batches a user's events must not time-travel — an event
    * earlier than the stored open session's end raises in-plan
    * (assert_true, row-level) rather than silently mis-sessionizing.
    * Feed event-time-ordered input (e.g. a watermarked upstream);
    * boundary TIES (same microsecond) sessionize in arrival order.
    *
    * Returns batches applied (replays contribute 0).
    */
  def sessionSink(spark: SparkSession, stream: DataFrame, userCol: String,
                  usCol: String, tieCol: String, valueCol: String,
                  gapUs: Long, targetDir: String, checkpointDir: String,
                  nBuckets: Int = 256, keepVersions: Int = 2): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(gapUs > 0, s"gapUs must be > 0, got $gapUs")
    require(nBuckets > 0, "nBuckets must be positive")
    require(keepVersions >= 1, "keepVersions must be at least 1")
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    checkOrWriteMarker(fs, targetPath, "_graft_session_geometry",
      "session", s"userCol=$userCol,usCol=$usCol,tieCol=$tieCol," +
        s"valueCol=$valueCol,gapUs=$gapUs,nBuckets=$nBuckets")
    val openRoot = new Path(targetPath, "open")
    fenced(stream, targetDir, checkpointDir) { (batch, batchId) =>
      val ev = batch.select(col(userCol).as("__u"),
          col(usCol).cast("long").as("__eus"),
          col(tieCol).as("__tie"),
          coalesce(col(valueCol).cast("double").cast("decimal(18,6)"),
            lit(0).cast("decimal(18,6)")).as("__v"))
        .filter(col("__u").isNotNull && col("__eus").isNotNull)
      // within-batch sessions: per (user, bseq) bounds/count and the
      // EXACT decimal sum — state must accumulate exactly across
      // batches, so the double cast happens only at read time
      val wU = Window.partitionBy("__u")
      val bsess = graft.ops.EventOps
        .sessionize(ev, "__u", "__eus", "__tie", gapUs)
        .groupBy(col("__u"), col("session_seq").as("__bseq"))
        .agg(min(col("__eus")).as("__bstart"),
          max(col("__eus")).as("__bend"),
          count(lit(1)).as("__bn"),
          sum(col("__v")).cast("decimal(28,6)").as("__bsum"))
        .withColumn("__kmax", max(col("__bseq")).over(wU))
        .withColumn(bucketCol,
          pmod(xxhash64(col("__u")), lit(nBuckets.toLong)))
        .persist()
      try {
        // ≤ nBuckets small longs — bounded driver traffic by design
        val touched = bsess.select(bucketCol).distinct().collect()
          .map(_.getLong(0)).toSeq
        val committed = committedVersions(fs, targetPath).toSet
        val curPaths = touched.flatMap(b =>
          latestVersion(fs, new Path(openRoot, s"b$b"), committed))
        def openShape(df: DataFrame) = df.select(col("__u"),
          lit(0L).as("session_seq"), lit(0L).as("start_us"),
          lit(0L).as("end_us"), lit(0L).as("n_events"),
          lit(0).cast("decimal(28,6)").as("sum_v"), col(bucketCol))
        val openCur =
          if (curPaths.isEmpty) openShape(bsess).limit(0)
          else spark.read.parquet(curPaths: _*)
            .withColumnRenamed(userCol, "__u")
        val batchUsers = bsess.select("__u").distinct()
        val openCarry = openCur.join(batchUsers, Seq("__u"), "left_anti")
        val oj = bsess.join(
            openCur.join(batchUsers, Seq("__u"), "left_semi")
              .select(col("__u"), col("session_seq").as("__oseq"),
                col("start_us").as("__ostart"),
                col("end_us").as("__oend"),
                col("n_events").as("__on"), col("sum_v").as("__osum")),
            Seq("__u"), "left")
          // cross-batch ordering contract, enforced row-level
          .filter(coalesce(
            assert_true(col("__oend").isNull || col("__bseq") > 1 ||
                col("__bstart") >= col("__oend"),
              concat_ws("", lit("sessionSink: out-of-order event for"),
                lit(" user "), col("__u").cast("string"),
                lit(" — batch starts "), col("__bstart"),
                lit(" before stored open session end "),
                col("__oend"))),
            lit(true)))
          .withColumn("__mf1", when(col("__bseq") === 1,
            col("__oend").isNotNull &&
              (col("__bstart") - col("__oend") < gapUs)))
          .withColumn("__mf",
            coalesce(max(col("__mf1")).over(wU), lit(false)))
          .withColumn("__seq", coalesce(col("__oseq"), lit(0L)) +
            col("__bseq") - when(col("__mf"), 1L).otherwise(0L))
          .withColumn("__merged", col("__bseq") === 1 && col("__mf"))
          .withColumn("__start", when(col("__merged"),
            col("__ostart")).otherwise(col("__bstart")))
          .withColumn("__n", when(col("__merged"),
            col("__on") + col("__bn")).otherwise(col("__bn")))
          .withColumn("__sum", when(col("__merged"),
            col("__osum") + col("__bsum")).otherwise(col("__bsum"))
            .cast("decimal(28,6)"))
          .persist() // feeds the open write, the closed emptiness
                     // probe and the closed write — one computation
        val newOpen = openCarry.unionByName(
          oj.filter(col("__bseq") === col("__kmax"))
            .select(col("__u"), col("__seq").as("session_seq"),
              col("__start").as("start_us"),
              col("__bend").as("end_us"), col("__n").as("n_events"),
              col("__sum").as("sum_v"), col(bucketCol)))
        val closed = oj.filter(col("__bseq") < col("__kmax"))
          .select(col("__u"), col("__seq").as("session_seq"),
            col("__start").as("start_us"), col("__bend").as("end_us"),
            col("__n").as("n_events"), col("__sum").as("sum_v"))
          .unionByName(
            // an open session a non-merging batch closes, as stored
            oj.filter(col("__bseq") === 1 && col("__oseq").isNotNull &&
                !col("__mf"))
              .select(col("__u"), col("__oseq").as("session_seq"),
                col("__ostart").as("start_us"),
                col("__oend").as("end_us"), col("__on").as("n_events"),
                col("__osum").as("sum_v")))
        publishBuckets(fs, newOpen.withColumnRenamed("__u", userCol), openRoot,
          new Path(targetPath, s"_graft_session_tmp_v$batchId"), batchId)
        // closed log: append-only, one dir per closing batch
        if (!closed.isEmpty) {
          val ctmp = new Path(targetPath, s"_graft_session_closed_tmp_v$batchId")
          closed.withColumnRenamed("__u", userCol)
            .write.mode(SaveMode.Overwrite).parquet(ctmp.toString)
          val closedRoot = new Path(targetPath, "closed")
          fs.mkdirs(closedRoot)
          val dest = new Path(closedRoot, s"v$batchId")
          fs.delete(dest, true) // stale uncommitted attempt, if any
          require(fs.rename(ctmp, dest),
            s"sessionSink: rename failed: $ctmp -> $dest")
        }
        oj.unpersist()
        // retention prunes the OPEN buckets only: the closed log is the output
        (1L, () => pruneBuckets(fs, openRoot, touched, committed + batchId,
          keepVersions))
      } finally bsess.unpersist()
    }
  }

  /** Offline compactor for a [[sessionSink]] target's CLOSED plane: the
    * closed log gains one `closed/v<batchId>` directory per closing wave,
    * so a many-wave deployment accumulates small files that tax every read. This folds ALL committed closed
    * directories into one consolidated directory (named after the
    * largest folded id, which is already commit-fenced), sized to
    * `targetFileBytes` — the [[compactDedupTarget]] maintenance shape
    * with a PLAN MANIFEST making torn compactions recoverable:
    *
    *   1. consolidated rows → `_graft_session_closed_ctmp` (invisible);
    *   2. plan manifest `_graft_session_compact_plan` records
    *      dest + sources (the recovery pivot — written only after the
    *      tmp is complete, so roll-FORWARD is always safe once it
    *      exists);
    *   3. sources rename aside to `_graft_compact_old_closed_v*`
    *      (underscore-invisible to the reader's v-dir scan);
    *   4. tmp renames to `closed/v<dest>`; trash + plan delete.
    *
    * A crash anywhere re-runs to a consistent state: plan + dest
    * present → finish cleanup; plan + tmp present, dest absent → roll
    * forward (finish 3–4); plan without tmp → roll back (restore
    * sources). Reads after recovery are ROW-IDENTICAL to the
    * uncompacted target and a second run is a no-op (both asserted in
    * SessionSinkSpec). Like [[compactDedupTarget]], run it while the
    * sink is quiescent — it is offline maintenance, not a concurrent
    * writer.
    *
    * Returns the number of closed directories folded (0 = nothing to
    * do).
    */
  def compactSessionTarget(spark: SparkSession, targetDir: String,
                           targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    if (!fs.exists(targetPath)) return 0
    val closedRoot = new Path(targetPath, "closed")
    val plan = new Path(targetPath, "_graft_session_compact_plan")
    val tmp = new Path(targetPath, "_graft_session_closed_ctmp")
    def trashOf(v: Long) = new Path(closedRoot, s"_graft_compact_old_closed_v$v")
    // ---- recovery from a torn previous run ------------------------------
    if (fs.exists(plan)) {
      val in = fs.open(plan)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim finally in.close()
      scala.util.Try {
        val dest = txt.split(";")(0).stripPrefix("dest=").toLong
        val srcs = txt.split(";")(1).stripPrefix("src=")
          .split(",").filter(_.nonEmpty).map(_.toLong)
        (dest, srcs)
      } match {
        case scala.util.Failure(_) =>
          // an unparseable plan means the plan write itself tore —
          // renames only ever start AFTER a plan closes, so the closed
          // dirs are intact and the state is 'no plan in flight'
          fs.delete(plan, false)
        case scala.util.Success((dest, srcs)) =>
          val destDir = new Path(closedRoot, s"v$dest")
          if (fs.exists(destDir) && !fs.exists(tmp)) {
            // swap completed — finish the cleanup
            srcs.foreach(v => fs.delete(trashOf(v), true))
          } else if (fs.exists(tmp)) {
            // tmp complete (plan is written only after) — roll forward
            srcs.foreach { v =>
              val orig = new Path(closedRoot, s"v$v")
              if (fs.exists(orig)) require(fs.rename(orig, trashOf(v)),
                s"compactSessionTarget: recovery rename failed: $orig")
            }
            require(fs.rename(tmp, destDir),
              s"compactSessionTarget: recovery rename failed: " +
                s"$tmp -> $destDir")
            srcs.foreach(v => fs.delete(trashOf(v), true))
          } else {
            // no tmp, no dest — roll back to the originals
            srcs.foreach { v =>
              val t = trashOf(v)
              if (fs.exists(t)) require(fs.rename(t,
                new Path(closedRoot, s"v$v")),
                s"compactSessionTarget: rollback rename failed: $t")
            }
          }
          fs.delete(plan, false)
      }
    }
    // ---- the compaction itself ------------------------------------------
    if (!fs.exists(closedRoot)) return 0
    val committed = committedVersions(fs, targetPath).toSet
    val srcDirs = fs.listStatus(closedRoot).toSeq.filter(_.isDirectory)
      .flatMap { d =>
        scala.util.Try(d.getPath.getName.stripPrefix("v").toLong).toOption
          .filter(committed).map(v => (v, d))
      }.sortBy(_._1)
    if (srcDirs.size <= 1) return 0
    val dest = srcDirs.map(_._1).max
    val dataBytes = srcDirs.map(_._2).flatMap(d =>
      fs.listStatus(d.getPath).filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")).map(_.getLen)).sum
    val wantFiles = math.max(1L,
      (dataBytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(srcDirs.map(_._2.getPath.toString): _*)
      .coalesce(wantFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(new Path(tmp, "_SUCCESS"), false)
    // plan goes live by RENAME (the same atomicity primitive the swap
    // relies on) — a crash mid-write leaves only the inert .inprogress
    val planTmp = new Path(targetPath, "_graft_session_compact_plan.inprogress")
    val out = fs.create(planTmp, true)
    try out.write(
      (s"dest=$dest;src=${srcDirs.map(_._1).mkString(",")}").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(planTmp, plan),
      s"compactSessionTarget: plan rename failed: $planTmp -> $plan")
    srcDirs.foreach { case (v, d) =>
      require(fs.rename(d.getPath, trashOf(v)),
        s"compactSessionTarget: rename failed: ${d.getPath}")
    }
    require(fs.rename(tmp,
      new Path(closedRoot, s"v$dest")),
      s"compactSessionTarget: rename failed: $tmp")
    srcDirs.foreach { case (v, _) => fs.delete(trashOf(v), true) }
    fs.delete(plan, false)
    srcDirs.size
  }

  /** Serve a [[sessionSink]] target: committed closed sessions plus the
    * latest committed open session per user, in
    * [[graft.ops.EventOps.sessionStats]]' shape (duration and the
    * VARCHAR-bridged double sum computed at the edge) plus `is_open`.
    * Torn (uncommitted) version directories are invisible.
    *
    * `asOfUs` is the watermark-style view closure: when set, a stored
    * open session whose inactivity gap has already PASSED at that
    * event-time clock (`end_us + gapUs <= asOfUs`, gap read from the
    * target's geometry marker) reports `is_open = false` — valid when
    * the target has folded every event with time ≤ asOfUs, because the
    * ordering contract then leaves no event that could still extend it.
    * The stored state is untouched; a later event beyond the gap still
    * closes the session physically with the right `session_seq`.
    */
  def readSessionTarget(spark: SparkSession, targetDir: String,
                        asOfUs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val (targetPath, fs) = hadoopFs(spark, targetDir)
    val committed = committedVersions(fs, targetPath).toSet
    val openPaths = latestBuckets(fs, new Path(targetPath, "open"), committed)
    if (openPaths.isEmpty) throw new IllegalStateException(
      s"no committed session state under $targetDir")
    val open = spark.read.parquet(openPaths: _*).drop(bucketCol)
      .withColumn("is_open", lit(true))
    val closedRoot = new Path(targetPath, "closed")
    val closedPaths =
      if (!fs.exists(closedRoot)) Seq.empty[String]
      else fs.listStatus(closedRoot).toSeq.filter(_.isDirectory)
        .filter(d => scala.util.Try(
          d.getPath.getName.stripPrefix("v").toLong).toOption
          .exists(committed))
        .map(_.getPath.toString)
    val both =
      if (closedPaths.isEmpty) open
      else spark.read.parquet(closedPaths: _*)
        .withColumn("is_open", lit(false)).unionByName(open)
    val gated = asOfUs match {
      case None => both
      case Some(asOf) =>
        // gap from the geometry marker the sink wrote at target birth
        val marker = new Path(targetPath, "_graft_session_geometry")
        require(fs.exists(marker),
          s"readSessionTarget: no session geometry under $targetDir")
        val in = fs.open(marker)
        val geo = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim finally in.close()
        val gapUs = geo.split(",").collectFirst {
          case kv if kv.startsWith("gapUs=") =>
            kv.stripPrefix("gapUs=").toLong
        }.getOrElse(throw new IllegalStateException(
          s"readSessionTarget: gapUs absent from geometry [$geo]"))
        both.withColumn("is_open",
          col("is_open") && col("end_us") + gapUs > asOf)
    }
    gated
      .withColumn("duration_us", col("end_us") - col("start_us"))
      .withColumn("sum_value", col("sum_v").cast("string").cast("double"))
      .drop("sum_v")
  }
}
