package graft

import graft.core.{CollectionManager, JobMeter}
import graft.functions.{HashingEmbedder, TextSplitter}
import graft.streaming.StreamingUpdate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Jobs-per-mutation BUDGET — the creep tripwire.
  *
  * `j3b_bucketed_lifecycle` drifted 9.08 → 10.93 → 12.27 s across rounds
  * 9–11 because each round quietly added Spark jobs to the mutation path
  * (stat deltas, signature upkeep, lock bookkeeping …). Wall-clock is too
  * noisy to gate in CI, but the JOB COUNT of one update / delete / streaming
  * tick is deterministic for a fixed feature set — so it is what this spec
  * pins. Each budget is the measured count plus small headroom: exceeding
  * one means a NEW per-mutation job was added, and the right fix is to fold
  * the work into an existing action (see update()'s one driver pass over the
  * batch, which yields both the merge's ids and the watermark) or justify
  * the raise here, in this comment, with the feature that bought it.
  * At 100 TB a mutation tick's fixed job count is what keeps small-batch
  * streaming affordable: jobs ∝ features is fine, jobs ∝ ticks is not.
  */
class JobBudgetSpec extends AnyFunSuite with SparkSuite {

  private def countJobs(body: => Any): Int = JobMeter.measure(spark)(body).jobs

  private def mkDocs(rows: (String, String)*) = {
    import spark.implicits._
    rows.toSeq.map { case (id, t) =>
      (id, s"u/$id", Map("lastModifiedAt" -> "2026-01-01T00:00:00"), t)
    }.toDF("id", "url", "metadata", "text")
  }

  test("update / delete job budgets on a bucketed collection") {
    val tmp = Files.createTempDirectory("graft-budget").toString
    val cm = new CollectionManager(spark, tmp,
      new HashingEmbedder(dim = 16), new TextSplitter(50, 10))
    val base = (1 to 40).map(i => (s"d$i", s"document number $i about topic ${i % 7}"))
    val createJobs = countJobs {
      cm.create("b", mkDocs(base: _*), nBuckets = 16)
    }
    val updateJobs = countJobs {
      cm.update("b", mkDocs((1 to 40).filter(_ % 7 == 0)
        .map(i => (s"d$i", s"document number $i rewritten")): _*))
    }
    val deleteJobs = countJobs {
      cm.delete("b", (1 to 40).filter(_ % 13 == 0).map(i => s"d$i"))
    }
    info(s"measured jobs — create: $createJobs, update: $updateJobs, delete: $deleteJobs")
    assert(createJobs <= 19, s"create grew a new job: $createJobs")
    assert(updateJobs <= 26, s"update grew a new job: $updateJobs")
    assert(deleteJobs <= 20, s"delete grew a new job: $deleteJobs")
  }

  test("update / delete job budgets on a flat collection") {
    val tmp = Files.createTempDirectory("graft-budget-flat").toString
    val cm = new CollectionManager(spark, tmp,
      new HashingEmbedder(dim = 16), new TextSplitter(50, 10))
    val base = (1 to 40).map(i => (s"d$i", s"document number $i about topic ${i % 7}"))
    cm.create("f", mkDocs(base: _*))
    val updateJobs = countJobs {
      cm.update("f", mkDocs((1 to 40).filter(_ % 7 == 0)
        .map(i => (s"d$i", s"document number $i rewritten")): _*))
    }
    val deleteJobs = countJobs {
      cm.delete("f", (1 to 40).filter(_ % 13 == 0).map(i => s"d$i"))
    }
    info(s"measured jobs — flat update: $updateJobs, flat delete: $deleteJobs")
    assert(updateJobs <= 24, s"update grew a new job: $updateJobs")
    assert(deleteJobs <= 18, s"delete grew a new job: $deleteJobs")
  }

  test("request plans build with zero jobs over a delta/tombstone tail") {
    val tmp = Files.createTempDirectory("graft-budget-req").toString
    val cm = new CollectionManager(spark, tmp,
      new HashingEmbedder(dim = 16), new TextSplitter(50, 10))
    val base = (1 to 30).map(i => (s"d$i", s"document number $i about topic ${i % 5}"))
    cm.create("r", mkDocs(base: _*))
    // one update and one delete: postings/termDf/corpus deltas + tombstones
    cm.update("r", mkDocs(("d3", "document number 3 rewritten about topic 1")))
    cm.delete("r", Seq("d7"))
    val filter = Some("""lastModifiedAt = "2026-01-01T00:00:00"""")
    // every table a request opens takes its schema from a driver-side footer
    // read (core.Tables), so plan construction launches no Spark job
    val builds = Seq[(String, () => Any)](
      "search" -> (() => cm.search("r", "document topic")),
      "filtered search" -> (() => cm.search("r", "document topic", metadataFilter = filter)),
      "search + matchQuery" -> (() =>
        cm.search("r", "document topic", matchQuery = Some("document AND topic"))),
      "booleanSearch" -> (() => cm.booleanSearch("r", "document AND topic")),
      "fetch" -> (() => cm.fetch("r", "d3")))
    val buildJobs = builds.map { case (what, build) => what -> countJobs(build()) }
    info(s"measured construction jobs — ${buildJobs.mkString(", ")}")
    buildJobs.foreach { case (what, n) =>
      assert(n == 0, s"building $what launched $n job(s)")
    }
    cm.search("r", "document topic").collect() // warm codegen
    val searchJobs = countJobs(cm.search("r", "document topic").collect())
    info(s"measured jobs — collected hybrid search: $searchJobs")
    assert(searchJobs <= 10, s"a hybrid search grew a new job: $searchJobs")
  }

  test("streaming tick job budget (existing collection, plain tick)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-budget-tick").toString
    val cm = new CollectionManager(spark, s"$tmp/coll",
      new HashingEmbedder(dim = 16), new TextSplitter(50, 10))
    val stream = MemoryStream[(String, String, String)]
    val docs = stream.toDF().toDF("id", "url", "text")
      .withColumn("metadata", map(lit("source"), lit("stream")))
      .select("id", "url", "metadata", "text")
    def tick(rows: (String, String, String)*): Unit = {
      stream.addData(rows: _*)
      val q = StreamingUpdate.collectionUpdateWriter(
        docs, cm, "t", s"$tmp/ckpt", createBuckets = 8).start()
      q.awaitTermination(60000)
    }
    tick(("d1", "u1", "first document about spark shuffles"),
         ("d2", "u2", "second document about broadcast joins"))
    val tickJobs = countJobs {
      tick(("d1", "u1", "first document rewritten about partitions"))
    }
    info(s"measured jobs — steady-state tick: $tickJobs")
    assert(tickJobs <= 29, s"a streaming tick grew a new job: $tickJobs")
  }

  test("includeSnippet runs the search pipeline ONCE (ADVICE r14: no double execution)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-budget-snip").toString
    val cm = new CollectionManager(spark, tmp,
      new HashingEmbedder(dim = 16), new TextSplitter(50, 10))
    cm.create("s", mkDocs(
      (1 to 20).map(i => (s"d$i", s"document $i about spark joins topic ${i % 5}")): _*))
    // warm both paths (footer caches, codegen) so the counted runs are
    // steady-state and comparable
    cm.booleanSearch("s", "spark AND joins", 10).collect()
    cm.booleanSearch("s", "spark AND joins", 10, includeSnippet = true).collect()
    val plain = countJobs {
      cm.booleanSearch("s", "spark AND joins", 10).collect()
    }
    val snip = countJobs {
      cm.booleanSearch("s", "spark AND joins", 10, includeSnippet = true).collect()
    }
    info(s"measured jobs — plain: $plain, with snippet: $snip")
    // the snippet path materializes the <=k-row hits ONCE (the same jobs as
    // the plain path's collect) and then pays a bounded constant for the
    // highlight join over k texts; before the r15 fix it re-executed the
    // whole search pipeline per reference (snip ≈ 2×plain + join)
    assert(snip <= plain + 6,
      s"snippet path re-executes the search pipeline: plain=$plain snippet=$snip")
  }
}
