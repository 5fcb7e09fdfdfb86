package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.io.PartitionLedger

/** The STORED banded-postings index behind incremental near-dup
  * ([[DedupOps.writeBandedIndex]] / [[DedupOps.lshProbeCandidatesStored]])
  * under the MANIFEST-POINTER commit protocol: equivalence with the
  * in-memory probe, the append path, ledger-driven idempotence, both
  * pruning regimes, and the crash matrix — every kill point must leave a
  * committed generation readable WITHOUT any recovery step, because the
  * protocol's correctness may not depend on atomic renames (object
  * stores have none). */
class BandedIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val signed = {
    val docs = graft.core.Tables(spark, graft.TestSpark.sfDir).documents
      .select($"doc_id", array_distinct(TextOps.shingles($"text", 2)).as("sh"))
    docs.withColumn("sig", DedupOps.minhashSignature($"sh", 16))
      .select($"doc_id", $"sig")
  }

  private def probeSet(idx: String, batch: org.apache.spark.sql.DataFrame) =
    DedupOps.lshProbeCandidatesStored(spark, idx, batch,
      "doc_id", "sig", 4, 4).as[(Long, Long)].collect().toSet

  private def parquetFiles(idx: String): Long =
    java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      .filter(p => p.toString.endsWith(".parquet")).count()

  import scala.jdk.CollectionConverters._

  private def segDirs(idx: String): Seq[String] =
    java.nio.file.Files.list(java.nio.file.Paths.get(idx)).iterator()
      .asScala.map(_.getFileName.toString)
      .filter(_.startsWith("seg-")).toSeq

  test("stored probe == in-memory probe; appended increments both count; " +
       "ledger makes re-appends no-ops; live layout is manifest-listed " +
       "immutable segments with per-band hive dirs") {
    val idx = java.nio.file.Files.createTempDirectory("graft-bidx").toString
    val ledger = new PartitionLedger(
      java.nio.file.Files.createTempDirectory("graft-bidx-ledger")
        .resolve("ledger.tsv").toString)
    // two history increments, appended only when the ledger says so —
    // the production incremental loop
    val increments = Seq("inc1" -> 1, "inc2" -> 2)
    for ((name, m) <- increments
         if !ledger.isProcessed("banded_index", name)) {
      DedupOps.writeBandedIndex(signed.filter($"doc_id" % 3 === m),
        "doc_id", "sig", 4, 4, idx, append = m != 1)
      ledger.markProcessed("banded_index", name)
    }
    val nFiles = parquetFiles(idx)
    // re-running the loop appends nothing: both increments are marked
    assert(ledger.unprocessed("banded_index", increments.map(_._1)).isEmpty)
    val batch = signed.filter($"doc_id" % 3 === 0)
    val stored = probeSet(idx, batch)
    val mem = DedupOps.lshProbeCandidates(signed.filter($"doc_id" % 3 =!= 0),
      batch, "doc_id", "sig", 4, 4).as[(Long, Long)].collect().toSet
    assert(stored === mem)
    assert(stored.nonEmpty)
    assert(parquetFiles(idx) === nFiles)
    // layout: the live generation lists both increments' segments, every
    // on-disk seg-* dir is live (GC'd otherwise), each with one hive
    // partition dir per band
    val live = DedupOps.liveSegments(spark, idx)
    assert(live.size === 2)
    assert(segDirs(idx).toSet ===
      live.map(p => new java.io.File(p).getName).toSet)
    for (seg <- live) {
      val bandDirs = java.nio.file.Files.list(java.nio.file.Paths.get(seg))
        .iterator().asScala
        .count(p => p.getFileName.toString.startsWith("band="))
      assert(bandDirs === 4)
    }
  }

  test("batched increments ≡ sequential write-then-append: same live " +
       "generation number, same segment count, same probe results, and " +
       "a further sequential append still works") {
    // pins the r15 writeBandedIndexIncrements swap inside
    // dedup_minhash_delta_stored: the concurrent segment writes + ordered
    // manifest publishes must leave the index indistinguishable from the
    // r14 two-call flow for every reader
    val seqIdx = java.nio.file.Files.createTempDirectory("graft-bidx-seq").toString
    val batIdx = java.nio.file.Files.createTempDirectory("graft-bidx-bat").toString
    DedupOps.writeBandedIndex(signed.filter($"doc_id" % 3 === 1),
      "doc_id", "sig", 4, 4, seqIdx)
    DedupOps.writeBandedIndex(signed.filter($"doc_id" % 3 === 2),
      "doc_id", "sig", 4, 4, seqIdx, append = true)
    DedupOps.writeBandedIndexIncrements(
      Seq(signed.filter($"doc_id" % 3 === 1),
        signed.filter($"doc_id" % 3 === 2)),
      "doc_id", "sig", 4, 4, batIdx)
    val batch = signed.filter($"doc_id" % 3 === 0)
    assert(probeSet(batIdx, batch) === probeSet(seqIdx, batch))
    assert(probeSet(batIdx, batch).nonEmpty)
    // same committed shape: generation 2 live, two live segments, all
    // on-disk segments referenced, postings row-identical
    for (idx <- Seq(seqIdx, batIdx)) {
      assert(DedupOps.liveSegments(spark, idx).size === 2)
      assert(segDirs(idx).size === 2)
    }
    val rows = (i: String) => DedupOps.readBandedIndex(spark, i)
      .select($"id", $"band", $"bucket")
      .as[(Long, Int, String)].collect().sorted.toSeq
    assert(rows(batIdx) === rows(seqIdx))
    // the batched index remains appendable by the sequential path
    DedupOps.writeBandedIndex(signed.filter($"doc_id" % 3 === 0),
      "doc_id", "sig", 4, 4, batIdx, append = true)
    assert(DedupOps.liveSegments(spark, batIdx).size === 3)
  }

  test("compaction collapses per-increment segments into ONE bucket-range " +
       "segment; probe results unchanged; superseded segments swept") {
    val idx = java.nio.file.Files.createTempDirectory("graft-bidx3").toString
    // 4 increments -> 4 overlapping bucket-range file sets per band
    for (m <- 0 to 3)
      DedupOps.writeBandedIndex(signed.filter($"doc_id" % 4 === m),
        "doc_id", "sig", 4, 4, idx, filesPerBand = 2, append = m != 0)
    val batch = signed.limit(50)
    val before = probeSet(idx, batch)
    val nBefore = parquetFiles(idx)
    DedupOps.compactBandedIndex(spark, idx, filesPerBand = 2)
    val after = probeSet(idx, batch)
    assert(after === before)
    assert(after.nonEmpty)
    assert(parquetFiles(idx) < nBefore,
      s"compaction did not reduce the file count (${parquetFiles(idx)} vs $nBefore)")
    // exactly one live segment remains on disk, and it is the live one
    assert(DedupOps.liveSegments(spark, idx).size === 1)
    assert(segDirs(idx).size === 1)
  }

  test("a crash at ANY compaction phase loses nothing AND needs no " +
       "recovery to read: the pre-crash generation (or the newly " +
       "committed one) serves identical probe results immediately; " +
       "recover() is pure garbage collection") {
    val batch = signed.limit(50)
    case class SimulatedCrash(phase: String) extends RuntimeException(phase)
    for (crashAt <- Seq("written", "published")) {
      val idx = java.nio.file.Files
        .createTempDirectory(s"graft-bidx-crash-$crashAt").toString
      for (m <- 0 to 2)
        DedupOps.writeBandedIndex(signed.filter($"doc_id" % 3 === m),
          "doc_id", "sig", 4, 4, idx, filesPerBand = 2, append = m != 0)
      val before = probeSet(idx, batch)
      // kill the maintenance job at this phase…
      val thrown = intercept[SimulatedCrash] {
        DedupOps.compactBandedIndex(spark, idx, filesPerBand = 2,
          onPhase = p => if (p == crashAt) throw SimulatedCrash(p))
      }
      assert(thrown.phase === crashAt)
      // …the index reads IDENTICALLY with no recovery step at all — the
      // property directory-swap commits cannot give on an object store
      assert(probeSet(idx, batch) === before,
        s"probe set changed after un-recovered crash at $crashAt")
      // recovery = GC: sweeps whichever side is garbage…
      DedupOps.recoverBandedIndex(spark, idx)
      assert(probeSet(idx, batch) === before,
        s"probe set changed after recovery from crash at $crashAt")
      // …and leaves exactly the live segments on disk
      assert(segDirs(idx).toSet ===
        DedupOps.liveSegments(spark, idx)
          .map(p => new java.io.File(p).getName).toSet,
        s"garbage survived recovery after crash at $crashAt")
      // a re-run of compaction completes normally
      DedupOps.compactBandedIndex(spark, idx, filesPerBand = 2)
      assert(probeSet(idx, batch) === before)
      assert(segDirs(idx).size === 1)
    }
    // a typo'd / never-written path must fail loudly, not silently "heal"
    intercept[IllegalStateException] {
      DedupOps.recoverBandedIndex(spark, "/tmp/graft-no-such-index")
    }
  }

  test("a maintained append AFTER a crashed compaction appends to the " +
       "committed history — it must never mistake crash debris for a " +
       "fresh path and overwrite the index (the r12 data-loss window)") {
    val batch = signed.limit(50)
    case class Crash() extends RuntimeException
    val idx = java.nio.file.Files
      .createTempDirectory("graft-bidx-heal").toString
    for (m <- 1 to 2)
      DedupOps.writeBandedIndex(signed.filter($"doc_id" % 3 === m),
        "doc_id", "sig", 4, 4, idx, filesPerBand = 2, append = m != 1)
    // compaction dies after writing its segment but BEFORE publishing
    intercept[Crash] {
      DedupOps.compactBandedIndex(spark, idx, filesPerBand = 2,
        onPhase = p => if (p == "written") throw Crash())
    }
    // next maintained append, with NO manual recovery in between
    DedupOps.appendBandedIndexMaintained(
      signed.filter($"doc_id" % 3 === 0), "doc_id", "sig", 4, 4, idx,
      filesPerBand = 2, growthFactor = 1000)
    // the full corpus must now be in the index: parity with in-memory
    // re-banding over ALL docs (an overwrite would have kept only inc 0)
    val stored = probeSet(idx, batch)
    val mem = DedupOps.lshProbeCandidates(signed, batch,
      "doc_id", "sig", 4, 4).as[(Long, Long)].collect().toSet
    assert(stored === mem)
    assert(stored.nonEmpty)
  }

  test("a TORN manifest (crashed mid-publish, no atomic rename assumed) " +
       "is skipped: readers fall back to the previous generation, and " +
       "the next publish never reuses the torn generation number") {
    val batch = signed.limit(50)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-bidx-torn").toString
    for (m <- 1 to 2)
      DedupOps.writeBandedIndex(signed.filter($"doc_id" % 3 === m),
        "doc_id", "sig", 4, 4, idx, append = m != 1)
    val before = probeSet(idx, batch)
    // hand-craft a torn top manifest: half a JSON object under the next
    // generation number, as a non-atomic publish crash would leave
    val torn = java.nio.file.Paths.get(idx, "_manifests", "00000099.json")
    java.nio.file.Files.write(torn, """{"generation":99,"segm""".getBytes)
    assert(probeSet(idx, batch) === before,
      "a torn top manifest changed the probe set")
    // the next append commits ABOVE the torn number and sweeps it
    DedupOps.writeBandedIndex(signed.filter($"doc_id" % 3 === 0),
      "doc_id", "sig", 4, 4, idx, append = true)
    assert(!java.nio.file.Files.exists(torn), "torn manifest not swept")
    val manifests = java.nio.file.Files.list(
        java.nio.file.Paths.get(idx, "_manifests"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".json")).toSeq   // .crc sidecars are local-FS noise
    assert(manifests === Seq("00000100.json"),
      s"expected a single live manifest above the torn number, got $manifests")
    val mem = DedupOps.lshProbeCandidates(signed, batch,
      "doc_id", "sig", 4, 4).as[(Long, Long)].collect().toSet
    assert(probeSet(idx, batch) === mem)
  }

  test("uncommitted debris is never blessed: a crashed INITIAL write " +
       "(segments, no manifest) reads/recovers as 'no committed index'; " +
       "an unreferenced junk segment beside a live index is invisible to " +
       "probes and swept by recovery; an externally deleted referenced " +
       "segment fails loudly as CORRUPT") {
    import java.nio.file.{Files, Paths}
    val batch = signed.limit(50)
    // crashed initial write: seg-* dir present, no manifest ever published
    val fresh = Files.createTempDirectory("graft-bidx-fresh").toString
    Files.createDirectories(Paths.get(fresh, "seg-00000001-deadbeef"))
    Files.write(Paths.get(fresh, "seg-00000001-deadbeef", "junk.parquet"),
      Array[Byte](1, 2, 3))
    for (body <- Seq(
        () => DedupOps.readBandedIndex(spark, fresh),
        () => { DedupOps.recoverBandedIndex(spark, fresh); null })) {
      val ex = intercept[IllegalStateException](body())
      assert(ex.getMessage.toLowerCase.contains("no committed"),
        s"wrong failure for uncommitted debris: ${ex.getMessage}")
    }
    // junk segment beside a live index: probes unchanged, recovery sweeps
    val idx = Files.createTempDirectory("graft-bidx-junk").toString
    DedupOps.writeBandedIndex(signed, "doc_id", "sig", 4, 4, idx,
      filesPerBand = 2)
    val before = probeSet(idx, batch)
    val junk = Paths.get(idx, "seg-99999999-torn0000")
    Files.createDirectories(junk)
    Files.write(junk.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    assert(probeSet(idx, batch) === before,
      "an unreferenced segment leaked into the probe")
    DedupOps.recoverBandedIndex(spark, idx)
    assert(!Files.exists(junk), "recovery did not sweep the junk segment")
    assert(probeSet(idx, batch) === before)
    // externally deleted referenced segment → CORRUPT, not a silent subset
    val seg = Paths.get(DedupOps.liveSegments(spark, idx).head)
    Files.walk(seg).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    val ex = intercept[IllegalStateException] {
      DedupOps.recoverBandedIndex(spark, idx)
    }
    assert(ex.getMessage.contains("CORRUPT"))
  }

  test("the pre-manifest directory-swap layout is refused with a rebuild " +
       "instruction on every entry point — never guessed at") {
    import java.nio.file.{Files, Paths}
    val legacy = Files.createTempDirectory("graft-bidx-legacy").toString
    Files.createDirectories(Paths.get(legacy, "band=0"))
    Files.write(Paths.get(legacy, "band=0", "part-0.parquet"),
      Array[Byte](1, 2, 3))
    Files.write(Paths.get(legacy, "_SUCCESS"), Array.emptyByteArray)
    for (body <- Seq(
        () => DedupOps.readBandedIndex(spark, legacy),
        () => { DedupOps.recoverBandedIndex(spark, legacy); null },
        () => { DedupOps.writeBandedIndex(signed, "doc_id", "sig", 4, 4,
          legacy, append = true); null },
        () => { DedupOps.appendBandedIndexMaintained(signed, "doc_id",
          "sig", 4, 4, legacy); null })) {
      val ex = intercept[IllegalStateException](body())
      assert(ex.getMessage.contains("pre-manifest"),
        s"legacy layout not refused: ${ex.getMessage}")
    }
    // an explicit OVERWRITE discards legacy state by intent: it commits a
    // manifest-layout index in its place and sweeps the legacy debris
    DedupOps.writeBandedIndex(signed, "doc_id", "sig", 4, 4, legacy)
    assert(DedupOps.liveSegments(spark, legacy).size === 1)
    assert(!Files.exists(Paths.get(legacy, "band=0")))
    assert(!Files.exists(Paths.get(legacy, "_SUCCESS")))
    assert(probeSet(legacy, signed.limit(50)).nonEmpty)
  }

  test("self-maintaining append: the growth-factor policy compacts when " +
       "the layout degrades and never changes probe results") {
    import java.nio.file.{Files, Paths}
    val batch = signed.limit(50)
    val idx = Files.createTempDirectory("graft-bidx-maintained").toString
    // bands=4, filesPerBand=2, growthFactor=2 → compact past 16 files;
    // each append lays down ≤ 8, so the trigger must fire within the
    // first 8 increments and keep the layout bounded thereafter
    val compactions = (0 until 8).map { m =>
      DedupOps.appendBandedIndexMaintained(
        signed.filter($"doc_id" % 8 === m), "doc_id", "sig", 4, 4, idx,
        filesPerBand = 2, growthFactor = 2)
    }
    assert(compactions.exists(identity),
      "the growth trigger never fired across 8 appends")
    assert(parquetFiles(idx) <= 4L * 2 * 2 + 8,
      s"maintained layout unbounded: ${parquetFiles(idx)} files")
    // parity: the maintained index probes identically to in-memory
    // re-banding over the full corpus
    val stored = probeSet(idx, batch)
    val mem = DedupOps.lshProbeCandidates(signed, batch,
      "doc_id", "sig", 4, 4).as[(Long, Long)].collect().toSet
    assert(stored === mem)
    assert(stored.nonEmpty)
    // a generous growth factor is a no-op policy: no compaction fires
    val idx2 = Files.createTempDirectory("graft-bidx-noop").toString
    val fired = (0 until 3).map { m =>
      DedupOps.appendBandedIndexMaintained(
        signed.filter($"doc_id" % 3 === m), "doc_id", "sig", 4, 4, idx2,
        filesPerBand = 2, growthFactor = 1000)
    }
    assert(!fired.exists(identity))
  }

  test("small batch pushes a bucket IN-list to the parquet scan; the " +
       "semi-join regime (maxPushdownBuckets=0) returns the same pairs") {
    val idx = java.nio.file.Files.createTempDirectory("graft-bidx2").toString
    DedupOps.writeBandedIndex(signed.filter($"doc_id" % 3 =!= 0),
      "doc_id", "sig", 4, 4, idx)
    val batch = signed.filter($"doc_id" % 3 === 0).limit(20)
    val pushed = DedupOps.lshProbeCandidatesStored(spark, idx, batch,
      "doc_id", "sig", 4, 4)
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("In(bucket"),
      s"expected a bucket IN-list in PushedFilters, plan:\n$plan")
    val semi = DedupOps.lshProbeCandidatesStored(spark, idx, batch,
      "doc_id", "sig", 4, 4, maxPushdownBuckets = 0)
    assert(pushed.as[(Long, Long)].collect().toSet ===
      semi.as[(Long, Long)].collect().toSet)
  }

  test("racing appenders: the generation-number loser fails LOUDLY and " +
      "leaves no torn state — the winner's commit stays live") {
    // The protocol documents single-writer; this pins what happens when
    // that contract is violated: two appenders that both read generation
    // N race to publish N+1. The manifest create is non-overwriting, so
    // the loser gets an IOException naming the collision — it must never
    // silently replace the winner's manifest (POSIX renameTo would),
    // because the loser's GC would then sweep the winner's segments.
    val idx = java.nio.file.Files.createTempDirectory("graft-bidx-race").toString
    DedupOps.writeBandedIndex(signed.filter($"doc_id" % 3 === 1),
      "doc_id", "sig", 4, 4, idx) // generation 1
    // writer A wins the race: a real append commits generation 2
    DedupOps.writeBandedIndex(signed.filter($"doc_id" % 3 === 2),
      "doc_id", "sig", 4, 4, idx, append = true)
    val base = new org.apache.hadoop.fs.Path(idx)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val winner = DedupOps.latestManifest(fs, base).get
    assert(winner.generation === 2)
    // writer B also saw generation 1 and now tries to publish ITS gen 2
    val e = intercept[java.io.IOException] {
      DedupOps.publishManifest(fs, base, 2, Seq("seg-00000002-deadbeef"))
    }
    assert(e.getMessage.contains("concurrent writer"))
    assert(e.getMessage.contains("generation 2"))
    // no torn state: the winner's manifest is untouched (same segment
    // list), every live segment still exists, and the probe still serves
    val after = DedupOps.latestManifest(fs, base).get
    assert(after.generation === 2)
    assert(after.segments === winner.segments)
    for (seg <- DedupOps.liveSegments(spark, idx))
      assert(new java.io.File(seg).isDirectory, s"live segment missing: $seg")
    val batch = signed.filter($"doc_id" % 3 === 0)
    val mem = DedupOps.lshProbeCandidates(signed.filter($"doc_id" % 3 =!= 0),
      batch, "doc_id", "sig", 4, 4).as[(Long, Long)].collect().toSet
    assert(probeSet(idx, batch) === mem)
  }

  test("a failing increment cancels the batch's other segment writes: no " +
       "job of the batch is still running when the call returns") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val idx = java.nio.file.Files.createTempDirectory("graft-bidx-fault").toString
    BatchFault.slowStarted = new java.util.concurrent.CountDownLatch(2)
    BatchFault.slowUntil = System.nanoTime + 60L * 1000000000L
    // a slow write holds its task until Spark kills it (or 60 s pass); the
    // failing write throws once both slow writes are running
    val slow = udf { (_: Long) =>
      BatchFault.slowStarted.countDown()
      val ctx = org.apache.spark.TaskContext.get()
      while (!ctx.isInterrupted() && System.nanoTime < BatchFault.slowUntil)
        Thread.sleep(20)
      true
    }
    val failing = udf((_: Long) => BatchFault.failOnceSlowStarted())
    val sc = spark.sparkContext
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    val t0 = System.nanoTime
    try {
      val e = intercept[Exception] {
        DedupOps.writeBandedIndexIncrements(Seq(
            signed.filter(slow($"doc_id")), signed.filter(failing($"doc_id")),
            signed.filter(slow($"doc_id"))),
          "doc_id", "sig", 4, 4, idx)
      }
      val returnedAfter = (System.nanoTime - t0) / 1e9
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("injected segment-write failure")), e)
      assert(returnedAfter < 30, s"the call returned after $returnedAfter s: it " +
        "waited for the slow writes instead of cancelling them")
      // job-end events trail the failure the caller sees by a few
      // microseconds; a write left running stays active for a minute
      val deadline = System.nanoTime + 5L * 1000000000L
      def running = { org.apache.spark.sql.graft.bridge.drainListenerBus(sc); started.asScala.toSet -- ended.asScala }
      while (running.nonEmpty && System.nanoTime < deadline) Thread.sleep(50)
      assert(started.size >= 3, s"jobs started: $started")
      assert(running.isEmpty, s"jobs still running after the call returned: $running")
    } finally sc.removeSparkListener(listener)
    // nothing of the batch is committed
    assert(DedupOps.liveSegments(spark, idx) === Nil)
  }
}

/** Rendezvous between the slow and the failing writes of the fault spec
  * (tasks run in the test JVM under `local[n]`). */
private object BatchFault {
  @volatile var slowStarted = new java.util.concurrent.CountDownLatch(0)
  @volatile var slowUntil = 0L

  def failOnceSlowStarted(): Boolean = {
    slowStarted.await(60, java.util.concurrent.TimeUnit.SECONDS)
    throw new IllegalStateException("injected segment-write failure")
  }
}
