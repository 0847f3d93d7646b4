package graft

import graft.queries.{SimilarityQueries, TextQueries}
import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** The per-corpus artifact memo (graft.Memo), run over every kind that
  * goes through it: a cold-JVM round trip is bit-exact, a damaged store
  * recomputes and re-persists, a regenerated fixture never leaves a
  * stale entry behind, and one kind's compute never blocks another
  * directory's request. */
class MemoSpec extends SparkSpecBase {
  import spark.implicits._

  /** One memoized artifact: its store kind/table/params and a call that
    * returns a value comparable by equality (doubles as raw bits). */
  private case class Art(kind: String, table: String, params: Seq[Any],
                         run: String => Seq[Any])

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def brute(budget: Long)(d: String): Seq[Any] =
    SimilarityQueries.bruteTopkBudgeted(spark, d, budget)
      .as[(Long, Long, Double, Int)].collect().toSeq
      .map { case (q, c, s, r) => (q, c, bits(s), r) }.sortBy(t => (t._1, t._4))

  private val arts = Seq(
    Art("lm", "documents", Seq(100), d => TextQueries.lmCountsCapped(spark, d, 100)
      .productIterator.toSeq),
    Art("dsir", "documents", Seq(100), d => TextQueries.dsirCountsCapped(spark, d, 100)
      .productIterator.toSeq),
    Art("ivf", "embeddings", Seq(4, 3), d => SimilarityQueries.ivfCentroidsMemo(spark, d, 4)
      .toSeq.map { case (id, v) => (id, v.toSeq.map(bits)) }),
    Art("brute-rows", "embeddings", Nil, brute(Long.MaxValue)),
    Art("brute", "embeddings", Nil, brute(0L)))

  private def store(a: Art, d: String): File = Memo.pathFor(a.kind, d, a.table, a.params: _*)

  /** A fixture dir with both tables; `seed` changes every row. */
  private def fixture(seed: Int): String = {
    val d = tempDir("graft-memo").toString
    writeTables(d, seed)
    d
  }

  /** Every kind's store at `d`'s current fingerprint: Memo never prunes
    * one, so each test deletes those its fixtures made. */
  private def rmStores(d: String): Unit = arts.foreach(a => rm(store(a, d)))

  /** Runs `body` on fixture `seed`, then deletes its stores and, last
    * (the fingerprint reads it), the fixture. */
  private def withFixture(seed: Int)(body: String => Unit): Unit = {
    val d = fixture(seed)
    try body(d) finally { rmStores(d); rm(new File(d)) }
  }

  private def writeTables(d: String, seed: Int): Unit = {
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    (0 until 40).map { i =>
      val text = (0 until 6).map(j => words((i * 7 + j * (seed + 1) + seed) % words.size))
        .mkString(" ")
      (i.toLong, text, s"src${i % 5}")
    }.toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    (0 until 200).map { i =>
      (i.toLong, Array.tabulate(64)(j => (((i * 31 + j * 17 + seed * 13) % 97) - 48) / 48f))
    }.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
  }

  /** Damage a store: truncate a file, drop a directory's commit marker. */
  private def damage(f: File): Unit =
    if (f.isDirectory) assert(new File(f, "_SUCCESS").delete())
    else java.nio.file.Files.write(f.toPath, Array[Byte](9, 9, 9))

  private def rm(f: File): Unit = { org.apache.commons.io.FileUtils.deleteQuietly(f); () }

  for (a <- arts) {
    test(s"${a.kind}: cold-JVM round trip is bit-exact; a damaged store recomputes and re-persists") {
      withFixture(1) { d =>
        val v1 = a.run(d)
        assert(store(a, d).exists(), "the first call must persist the store")
        Memo.dropMemory()
        assert(a.run(d) == v1, "a load from the store must reproduce the value bit-exactly")
        damage(store(a, d))
        Memo.dropMemory()
        assert(a.run(d) == v1, "a damaged store must recompute the same value")
        assert(store(a, d).exists(), "recomputing must re-persist")
        Memo.dropMemory()
        assert(a.run(d) == v1)
      }
    }

    test(s"${a.kind}: a regenerated fixture recomputes and evicts the stale entry") {
      withFixture(1) { d =>
        val table = new File(d, s"${a.table}.parquet")
        val saved = new File(d, "saved")
        val v1 = a.run(d)
        // regenerate: the first version moves aside (rename keeps name,
        // length and mtime, so moving it back restores its fingerprint)
        assert(table.renameTo(saved))
        writeTables(d + "/regen", 2)
        assert(new File(d, s"regen/${a.table}.parquet").renameTo(table))
        val v2 = a.run(d)
        assert(v2 != v1, "a regenerated fixture must recompute")
        rmStores(d) // the regenerated fingerprint's
        // back at the first fingerprint with its store gone: a stale
        // entry still in memory would answer without touching the disk
        rm(table)
        assert(saved.renameTo(table))
        rm(store(a, d))
        assert(a.run(d) == v1)
        assert(store(a, d).exists(),
          "the insert at the new fingerprint must have evicted the stale entry")
      }
    }

    test(s"${a.kind}: a compute held for one directory does not block another directory") {
      val held = tempDir("graft-memo-held").toString
      withFixture(3) { d =>
        Memo.dropMemory()
        rm(store(a, d))
        val started = new CountDownLatch(1)
        val release = new CountDownLatch(1)
        val intCodec = Memo.binary[Int](0x54535431)((o, v) => o.writeInt(v))(_.readInt())
        val holder = new Thread(() => {
          Memo(a.kind, held, a.table, a.params: _*)(intCodec) {
            started.countDown(); release.await(); 7
          }
          ()
        })
        holder.start()
        try {
          assert(started.await(60, TimeUnit.SECONDS))
          val other = new Thread(() => { a.run(d); () })
          other.start()
          other.join(180000)
          assert(!other.isAlive, s"a ${a.kind} call for another directory waited on the held compute")
          assert(store(a, d).exists())
        } finally {
          release.countDown()
          holder.join()
          rm(Memo.pathFor(a.kind, held, a.table, a.params: _*))
          rm(new File(held))
        }
      }
    }
  }

  test("a load failure that is not damage propagates and keeps the store") {
    withFixture(4) { d =>
      val codec = Memo.binary[Int](0x54535432)((o, v) => o.writeInt(v))(_.readInt())
      assert(Memo("memospec", d, "documents")(codec)(5) == 5)
      val f = Memo.pathFor("memospec", d, "documents")
      Memo.dropMemory()
      val failing = new Memo.Codec[Int] {
        def write(v: Int, to: File): Unit = codec.write(v, to)
        def read(from: File): Int = throw new IllegalStateException("transient")
      }
      intercept[IllegalStateException](Memo("memospec", d, "documents")(failing)(6))
      assert(f.exists(), "only a damaged store may be deleted")
      assert(Memo("memospec", d, "documents")(codec)(6) == 5, "the valid store still loads")
      rm(f)
    }
  }

  test("brute medium: the parquet store is the same relation as the driver rows") {
    withFixture(5)(d => assert(brute(0L)(d) == brute(Long.MaxValue)(d)))
  }
}
