package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Local disk under the `graftswap:` scheme where every stale-claim
  * break loses its race: right after a claim is renamed aside, another
  * maintainer's token appears in the aside file, and the rename back is
  * refused (reported by return value, as Hadoop does). Top-level so
  * Hadoop can instantiate it.
  */
class TokenSwapFs extends graft.core.TestSchemeFs {
  override def getUri: java.net.URI = java.net.URI.create("graftswap:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (src.getName.startsWith(".break-")) false
    else if (!dst.getName.startsWith(".break-")) super.rename(src, dst)
    else super.rename(src, dst) && {
      val out = create(dst, true)
      try out.write("successor".getBytes(UTF_8)) finally out.close()
      true
    }
}

/** The edges of the stale-claim break: a heartbeat sidecar caught
  * mid-rewrite, and a claim that changed hands under the breaker.
  */
class ClaimBreakSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs(ids: Range) =
    ids.toDF("id")
      .withColumn("a", col("id").cast("long") * 7919 % 1000)
      .withColumn("b", col("id").cast("long") * 104729 % 1000)
      .withColumn("payload", concat(lit("row"), col("id")))

  /** Writes `text` to the local file `p` and sets its mtime `ageMs` ago. */
  private def plant(p: String, text: String, ageMs: Long): Unit = {
    val f = Paths.get(p)
    Files.write(f, text.getBytes(UTF_8))
    Files.setLastModifiedTime(f,
      FileTime.fromMillis(System.currentTimeMillis() - ageMs))
  }

  test("a torn heartbeat sidecar keeps its claim alive by its own mtime, " +
    "until that mtime is stale too") {
    val dir = Files.createTempDirectory("claimbreak1").toString
    ClusteredStore.init(mkDocs(0 until 400), Seq("a", "b"), 2, dir)
    // a holder whose claim mtime is long frozen (no setTimes), caught
    // while rewriting its sidecar: only the token, or a cut-off millis
    plant(s"$dir/ledger/claim-v=2", "holder", ageMs = 60000L)
    def thief() = ClusteredStore.append(spark, dir,
      mkDocs(1000 until 1010), staleClaimMs = 5000L)
    for (torn <- Seq("holder", "holder\n", "holder\n17")) {
      plant(s"$dir/ledger/hb-v=2", torn, ageMs = 0L)
      val e = intercept[ConcurrentCommitException](thief())
      assert(e.getMessage.contains("claimed"), e.getMessage)
    }
    assert(ClusteredStore.currentVersion(spark, dir) === Some(1))

    // the same torn sidecar, but as old as the claim: the holder is dead
    plant(s"$dir/ledger/hb-v=2", "holder", ageMs = 60000L)
    assert(thief().version === 2)
    assert(ClusteredStore.read(spark, dir).count() === 410L)
  }

  test("a claim that changed hands under the breaker and cannot be " +
    "restored fails loudly instead of being left aside") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftswap.impl", classOf[TokenSwapFs].getName)
    org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("graftswap:///"), conf)
    val local = Files.createTempDirectory("claimbreak2").toString + "/store"
    val dir = "graftswap:" + local
    ClusteredStore.init(mkDocs(0 until 400), Seq("a", "b"), 2, dir)
    plant(s"$local/ledger/claim-v=2", "holder", ageMs = 60000L)

    val e = intercept[java.io.IOException](ClusteredStore.append(spark, dir,
      mkDocs(1000 until 1010), staleClaimMs = 5000L))
    assert(e.getMessage.contains("rename"), e.getMessage)
    assert(ClusteredStore.currentVersion(spark, dir) === Some(1))
  }
}
