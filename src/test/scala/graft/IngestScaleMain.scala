package graft

import org.apache.spark.sql.functions._

import graft.DevHarness.{tempPath, timed}

/** Dev harness: does the composed ingest front door stay flat as the
  * STANDING stores grow? Replays the sf0.1 even-half documents K× (ids
  * offset per copy) into an on-disk fingerprint snapshot + MinHash
  * index, then probes the SAME fixed batch (the 1× odd half) through
  * [[graft.ops.Pipeline.ingestGate]] — batch mode — and through
  * [[graft.streaming.EventStream.nearDupGateSink]] — the streaming
  * twin — at 1× and K× history. The claim under test: probe cost rides
  * the batch side + true match volume, never the history size
  * (replicated history is the worst case for match volume — every
  * batch doc that matches one historical doc now matches K replicas).
  *
  * Usage: sbt "Test/runMain graft.IngestScaleMain [K]"   (default 16)
  */
object IngestScaleMain {
  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 16
    val spark = DevHarness.session()
    val sfDir = DevHarness.sfDir("0.1")
    import spark.implicits._
    import graft.ops.{CacheScope, Dedup, Pipeline, TextAnalysis}
    import graft.streaming.EventStream

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val even = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val nd = docs.agg(max("doc_id")).head().getLong(0) + 1

    // the streaming probe's microbatches: three fixed 2k-doc slices
    val stream = (0 until 3).map(b =>
      batch.filter(col("doc_id") % 31 === (2 * b + 1))
        .limit(2000).as[(Long, String)].collect().toSeq)

    for ((label, copies) <- Seq("1x" -> 1, s"${k}x" -> k)) {
      val hist = DevHarness.replay(even, "doc_id", copies, nd)
      val snapDir = tempPath(s"ing-snap-$label"); val idxDir = tempPath(s"ing-idx-$label")
      timed(s"found stores   $label")(CacheScope.withScope { scope =>
        hist.select(col("doc_id"),
            TextAnalysis.fingerprint(col("text")).as("fp"))
          .write.parquet(snapDir)
        Dedup.saveNearDupIndex(Dedup.buildNearDupIndex(hist, "doc_id", "text",
          k = 4, rowsPerBand = 2, n = 5, scope = scope), idxDir)
      })

      CacheScope.withScope { scope =>
        val idx = Dedup.loadNearDupIndex(spark, idxDir, scope)
        val snap = Dedup.snapshotLive(spark, snapDir).select(col("fp"))
        for (pass <- Seq("cold", "warm"))
          DevHarness.time(s"ingestGate $pass $label")(
            Pipeline.ingestGate(batch, "doc_id", "text", snap, idx,
              minJaccard = 0.2, scope = scope))
      }

      // streaming twin: per-microbatch wall against the same standing index
      CacheScope.withScope { scope =>
        val vDir = tempPath(s"ing-v-$label"); val ck = tempPath(s"ing-ck-$label")
        implicit val sq = spark.sqlContext
        val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
        val q = EventStream.nearDupGateSink(mem.toDF().toDF("doc_id", "text"),
          "doc_id", "text", idxDir, vDir, ck, minJaccard = 0.2, scope = scope)
        stream.zipWithIndex.foreach { case (rows, b) =>
          timed(s"gateSink b$b     $label (${rows.size} docs)") {
            mem.addData(rows: _*); q.processAllAvailable()
          }
        }
        q.stop()
      }
    }
    spark.stop()
  }
}
