package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Runtime quotation: a pipeline assembled as SOURCE TEXT compiles in-JVM
  * (nsc), the comprehension macro expands during that compilation, and
  * the resulting closure runs on the live session with the same plan and
  * values as build-time-compiled code. */
class RuntimeQuotationSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  behavior of "RuntimeQuotation.compile"

  it should "derive the comprehension join inside a runtime-compiled snippet" in {
    val pipeline = RuntimeQuotation.compile[SparkSession => DataFrame]("""
      (s0: org.apache.spark.sql.SparkSession) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s0
        import spark.implicits._
        import graft.api._
        import graft.api.comprehensions.onSpark
        val xs = DataBag((1L to 50L).toSeq)
        val ys = DataBag(Seq(2L, 4L, 6L, 8L, 10L, 12L))
        onSpark {
          for { x <- xs; y <- ys; if x % 7 == y % 5 } yield (x, y, x + y)
        }.ds.toDF("x", "y", "s")
      }""")
    val out = pipeline(spark)
    val plan = out.queryExecution.executedPlan.toString
    plan should not include regex("(?i)cartesian")
    plan should not include regex("(?i)BroadcastNestedLoop")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val exp = (for {
      x <- 1L to 50L; y <- Seq(2L, 4L, 6L, 8L, 10L, 12L); if x % 7 == y % 5
    } yield (x, y, x + y)).sorted
    got shouldBe exp.toArray
  }

  it should "derive EXISTS guards and correlated folds in runtime-compiled snippets" in {
    // the round's new derivations ride the same macro, so the source-text
    // channel must carry them too: semi join + fold-group sumJoin
    val pipeline = RuntimeQuotation.compile[SparkSession => DataFrame]("""
      (s0: org.apache.spark.sql.SparkSession) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s0
        import spark.implicits._
        import graft.api._
        import graft.api.comprehensions.onSpark
        val xs = DataBag((1L to 30L).toSeq)
        val ys = DataBag(Seq(2L, 4L, 4L, 6L))
        onSpark {
          for { x <- xs; if ys.exists(y => y == x % 7) }
            yield (x, ys.count(y => y == x % 7))
        }.ds.toDF("x", "n")
      }""")
    val out = pipeline(spark)
    out.queryExecution.executedPlan.toString should include("LeftSemi")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val yseq = Seq(2L, 4L, 4L, 6L)
    val exp = (for { x <- 1L to 30L; if yseq.exists(y => y == x % 7) }
      yield (x, yseq.count(y => y == x % 7).toLong)).sorted
    got shouldBe exp.toArray
  }

  it should "unnest dependent nested-comprehension generators at runtime" in {
    // UnnestGenerator rides the same macro through the source-text channel
    val pipeline = RuntimeQuotation.compile[SparkSession => DataFrame]("""
      (s0: org.apache.spark.sql.SparkSession) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s0
        import spark.implicits._
        import graft.api._
        import graft.api.comprehensions.onSpark
        val xs = DataBag((1L to 20L).toSeq)
        val ys = DataBag((1L to 15L).toSeq)
        onSpark {
          for {
            x <- xs
            (a, b) <- (for { y <- ys; if y % 5 == x % 5 } yield (y, y * x))
            if b % 2 == 0L
          } yield (x, a, b)
        }.ds.toDF("x", "a", "b")
      }""")
    val out = pipeline(spark)
    out.queryExecution.executedPlan.toString should not include regex("(?i)cartesian")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val exp = (for {
      x <- 1L to 20L
      (a, b) <- (for { y <- 1L to 15L; if y % 5 == x % 5 } yield (y, y * x))
      if b % 2 == 0L
    } yield (x, a, b)).sorted
    got shouldBe exp.toArray
  }

  it should "derive depth-3 chains and block spellings at runtime" in {
    // the deep default-case pass and per-level unnest re-expansion ride
    // the same macro through the source-text channel
    val pipeline = RuntimeQuotation.compile[SparkSession => DataFrame]("""
      (s0: org.apache.spark.sql.SparkSession) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s0
        import spark.implicits._
        import graft.api._
        import graft.api.comprehensions.onSpark
        val xs = DataBag((1L to 12L).toSeq)
        val ys = DataBag((1L to 10L).toSeq)
        val zs = DataBag((1L to 8L).toSeq)
        onSpark {
          val deep = for {
            x <- xs
            v <- (for {
              y <- ys
              if y % 4 == x % 4
              w <- (for { z <- zs; if z % 3 == y % 3 } yield z + y)
            } yield w + x)
          } yield (x, v)
          val flat = for { x <- xs; y <- ys; if x % 5 == y % 5 } yield (x, x + y)
          deep union flat
        }.ds.toDF("x", "v")
      }""")
    val out = pipeline(spark)
    out.queryExecution.executedPlan.toString should not include regex("(?i)cartesian")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val deepExp = for {
      x <- 1L to 12L
      y <- 1L to 10L; if y % 4 == x % 4
      z <- 1L to 8L; if z % 3 == y % 3
    } yield (x, (z + y) + x)
    val flatExp = for { x <- 1L to 12L; y <- 1L to 10L; if x % 5 == y % 5 }
      yield (x, x + y)
    got shouldBe (deepExp ++ flatExp).sorted.toArray
  }

  it should "fuse groupBy spellings (block vals, patterns, multi-group) at runtime" in {
    // the round's groupBy-fusion spellings ride the same macro through the
    // source-text channel: block-val aliases, the Group pattern, and two
    // groupBys joined on key must all fuse (no MapGroups) and agree with Seq
    val pipeline = RuntimeQuotation.compile[SparkSession => DataFrame]("""
      (s0: org.apache.spark.sql.SparkSession) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s0
        import spark.implicits._
        import graft.api._
        import graft.api.comprehensions.onSpark
        val xs = DataBag((1L to 60L).map(i => (i % 8, i)))
        val ys = DataBag((1L to 40L).map(i => (i % 8, i * 3)))
        onSpark {
          for {
            Group(k1, v1) <- xs.groupBy(_._1)
            g2 <- ys.groupBy(_._1)
            if k1 == g2.key
          } yield {
            val vs2 = g2.values
            (k1, v1.size, vs2.map(_._2).sum)
          }
        }.ds.toDF("k", "n1", "s2")
      }""")
    val out = pipeline(spark)
    out.queryExecution.executedPlan.toString should not include "MapGroups"
    val got = out.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val xref = (1L to 60L).map(i => (i % 8, i)).groupBy(_._1)
    val yref = (1L to 40L).map(i => (i % 8, i * 3)).groupBy(_._1)
    val exp = (for {
      (k1, v1) <- xref.toSeq
      (k2, v2) <- yref.toSeq
      if k1 == k2
    } yield (k1, v1.size, v2.map(_._2).sum)).sorted
    got shouldBe exp.toArray
  }

  it should "evaluate plain expressions and reusable closures" in {
    RuntimeQuotation.compile[Long]("40L + 2L") shouldBe 42L
    val f = RuntimeQuotation.compile[Long => Long]("(n: Long) => n * n")
    f(9L) shouldBe 81L
  }

  it should "skip the compiler on identical re-submission (source-hash cache)" in {
    val tag = System.nanoTime()
    val src = s"(n$tag: Long) => n$tag + 40L" // unique shape
    val before = RuntimeQuotation.compilations.get()
    val f1 = RuntimeQuotation.compile[Long => Long](src)
    RuntimeQuotation.compilations.get() shouldBe (before + 1)
    val t0 = System.nanoTime()
    val f2 = RuntimeQuotation.compile[Long => Long](src)
    val hitMs = (System.nanoTime() - t0) / 1e6
    // second submission compiled NOTHING: the scalac counter is unchanged
    // and the hit path is orders of magnitude under a compiler run
    RuntimeQuotation.compilations.get() shouldBe (before + 1)
    hitMs should be < 500.0
    f1(1L) shouldBe f2(1L)
    // a literal-only edit reuses the compiled shape with the edited value
    RuntimeQuotation.compile[Long => Long](s"(n$tag: Long) => n$tag + 41L").apply(1L) shouldBe 42L
    RuntimeQuotation.compilations.get() shouldBe (before + 1)
    // a structural edit is a distinct cache entry: exactly one compile
    RuntimeQuotation.compile[Long => Long](s"(n$tag: Long) => n$tag - 41L").apply(1L) shouldBe -40L
    RuntimeQuotation.compilations.get() shouldBe (before + 2)
  }

  it should "lift negative and MinValue literals as one literal each" in {
    val tag = System.nanoTime()
    def prog(a: String, b: String, c: Int, d: Int) =
      s"($a, $b, Int.MinValue + $c, - $d, Long.MinValue) // neg $tag"
    val before = RuntimeQuotation.compilations.get()
    RuntimeQuotation.compile[(Int, Long, Int, Int, Long)](
      prog("-2147483648", "-9223372036854775808L", 1, 5)) shouldBe
      ((Int.MinValue, Long.MinValue, Int.MinValue + 1, -5, Long.MinValue))
    RuntimeQuotation.compile[(Int, Long, Int, Int, Long)](prog("-5", "-7L", 2, 6)) shouldBe
      ((-5, -7L, Int.MinValue + 2, -6, Long.MinValue))
    RuntimeQuotation.compile[(Int, Long, Int, Int, Long)](
      prog("2147483647", "9223372036854775807L", 3, 9)) shouldBe
      ((Int.MaxValue, Long.MaxValue, Int.MinValue + 3, -9, Long.MinValue))
    RuntimeQuotation.compilations.get() shouldBe (before + 1)
  }

  it should "leave literals in case patterns and final val right-hand sides in the text" in {
    val tag = System.nanoTime()
    // `b: Byte = Lim` type-checks only while Lim stays a constant, and a
    // lifted pattern literal would become a variable pattern
    def prog(k: Int, pat: Int, lim: Int) = s"""{
      object K { final val Lim = $lim; val b: Byte = Lim }
      Seq(1, 2, 3, $k).map { case $pat => -1; case K.Lim => -2; case x => x * 10 + K.b }
    } // patterns $tag"""
    def exp(k: Int, pat: Int, lim: Int) = Seq(1, 2, 3, k).map { x =>
      if (x == pat) -1 else if (x == lim) -2 else x * 10 + lim
    }
    val before = RuntimeQuotation.compilations.get()
    RuntimeQuotation.compile[Seq[Int]](prog(7, 3, 2)) shouldBe exp(7, 3, 2)
    RuntimeQuotation.compilations.get() shouldBe (before + 1)
    RuntimeQuotation.compile[Seq[Int]](prog(8, 3, 2)) shouldBe exp(8, 3, 2)
    RuntimeQuotation.compilations.get() shouldBe (before + 1)
    RuntimeQuotation.compile[Seq[Int]](prog(8, 1, 2)) shouldBe exp(8, 1, 2)
    RuntimeQuotation.compilations.get() shouldBe (before + 2)
    RuntimeQuotation.compile[Seq[Int]](prog(8, 1, 3)) shouldBe exp(8, 1, 3)
    RuntimeQuotation.compilations.get() shouldBe (before + 3)
  }

  it should "compile a shape that needs its literal constant verbatim" in {
    val tag = System.nanoTime()
    def prog(v: Int) = s"{ val b: Byte = $v; b + 1 } // narrowing $tag"
    val before = RuntimeQuotation.compilations.get()
    // the lifted shape fails (an Int local does not narrow to Byte), so
    // the verbatim text compiles
    RuntimeQuotation.compile[Int](prog(3)) shouldBe 4
    RuntimeQuotation.compilations.get() shouldBe (before + 2)
    // recorded as not liftable: a literal edit compiles verbatim once
    RuntimeQuotation.compile[Int](prog(5)) shouldBe 6
    RuntimeQuotation.compilations.get() shouldBe (before + 3)
    RuntimeQuotation.compile[Int](prog(5)) shouldBe 6
    RuntimeQuotation.compilations.get() shouldBe (before + 3)
  }

  it should "stay usable after a compile error" in {
    val tag = System.nanoTime()
    val typeErr = intercept[RuntimeQuotationError] {
      RuntimeQuotation.compile[Int](s"""{ val x: Int = "no"; x } // $tag""")
    }
    typeErr.getMessage should include("type mismatch")
    intercept[RuntimeQuotationError] {
      RuntimeQuotation.compile[Int](s"((( // $tag")
    }
    RuntimeQuotation.compile[Int](s"{ val x: Int = 6; x * 7 } // $tag") shouldBe 42
  }

  it should "run five literal edits of a join-filter program from one compile" in {
    val tag = System.nanoTime()
    def prog(t: Int) = s"""
      (s0: org.apache.spark.sql.SparkSession) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s0
        import spark.implicits._
        import graft.api._
        import graft.api.comprehensions.onSpark
        // join-filter $tag
        val orders = DataBag((1L to 60L).map(i => graft.OrderRow(i, i % 9L, i * 10.5)))
        val custs = DataBag((0L to 8L).map(c => graft.CustRow(c, "c" + c, c * 100.0)))
        onSpark {
          for {
            o <- orders
            cu <- custs
            if o.o_custkey == cu.c_custkey
            if cu.c_acctbal > $t.0
          } yield (o.o_orderkey, cu.c_name, math.floor(o.o_totalprice * 100.0).toLong)
        }.ds.toDF("k", "n", "p")
      }"""
    // expression and plan ids, lambda class numbers and object addresses differ
    // per submission; the literal itself is the only other difference
    def norm(plan: String, t: Int) = plan.replaceAll("#\\d+", "#")
      .replaceAll("Lambda\\$\\d+", "Lambda").replaceAll("plan_id=\\d+", "plan_id").replaceAll("@[0-9a-f]+|0x[0-9a-f]+", "@")
      .replace(s"$t.0", "T")
    val before = RuntimeQuotation.compilations.get()
    val plans = Seq(150, 250, 350, 450, 550).map { t =>
      val out = RuntimeQuotation.compile[SparkSession => DataFrame](prog(t)).apply(spark)
      val got = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
      val exp = (for {
        i <- 1L to 60L; c <- 0L to 8L
        if i % 9L == c && c * 100.0 > t
      } yield (i, "c" + c, math.floor(i * 10.5 * 100.0).toLong)).sorted
      got shouldBe exp.toArray
      norm(out.queryExecution.executedPlan.toString, t)
    }
    RuntimeQuotation.compilations.get() shouldBe (before + 1)
    plans.distinct should have size 1
    plans.head should not include regex("(?i)cartesian")
  }

  it should "remove its class directory when the JVM exits" in {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft_rtq_exit")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a => a.startsWith("-Xmx") ||
        a.startsWith("-Djava.io.tmpdir") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx768m", s"-Djava.io.tmpdir=$tmp", "-cp", System.getProperty("java.class.path"),
        "graft.api.RuntimeQuotationExitProbe")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    proc.waitFor() shouldBe 0
    out should contain("42")
    val jar = java.nio.file.Paths.get(out.find(_.endsWith(".jar")).get)
    jar.startsWith(tmp) shouldBe true
    java.nio.file.Files.exists(jar.getParent.getParent) shouldBe false
    val left = java.nio.file.Files.list(tmp)
    try left.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_rtq_classes")).toList shouldBe empty
    finally left.close()
    graft.BenchMode.deleteRecursively(tmp)
  }

  it should "consume cross-file @lib defs (incl. GENERIC) from runtime-submitted source" in {
    // the pickled @graftSrc registry read inside the nsc-COMPILED expansion:
    // the runtime compiler is a different Global than the build-time one, so
    // this pins annotation-pickle reading on the runtime channel (q249's
    // contract through RuntimeQuotation)
    val pipeline = RuntimeQuotation.compile[SparkSession => DataFrame]("""
      (s0: org.apache.spark.sql.SparkSession) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s0
        import spark.implicits._
        import graft.api._
        import graft.api.comprehensions.onSpark
        val custs = DataBag(Seq(
          graft.CustRow(1L, "a", 0.0), graft.CustRow(2L, "b", 0.0)))
        val orders = DataBag(Seq(
          graft.OrderRow(10L, 1L, 200000.0), graft.OrderRow(11L, 1L, 100.0),
          graft.OrderRow(12L, 2L, 151000.0), graft.OrderRow(13L, 3L, 500000.0)))
        onSpark {
          for { cu <- custs; o <- graft.lib.QuotedLib.bigOrdersOf(cu, orders) }
            yield (cu.c_custkey, o.o_orderkey)
        }.ds.toDF("ck", "ok")
      }""")
    val out = pipeline(spark)
    out.queryExecution.executedPlan.toString should not include regex("(?i)cartesian")
    out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe
      Array((1L, 10L), (2L, 12L))
    // GENERIC @lib member through the same channel: monomorphized from the
    // typed call's type args inside the nsc run
    val gen = RuntimeQuotation.compile[SparkSession => DataFrame]("""
      (s0: org.apache.spark.sql.SparkSession) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s0
        import spark.implicits._
        import graft.api._
        import graft.api.comprehensions.onSpark
        val ks = DataBag((1L to 6L).toSeq)
        val pairs = DataBag((1L to 30L).map(i => (i % 7, "v" + i)))
        onSpark {
          for { k <- ks; p <- graft.lib.QuotedLib.keyedOver(k, pairs) }
            yield (k, p._2)
        }.ds.toDF("k", "v")
      }""")
    val outG = gen(spark)
    outG.queryExecution.executedPlan.toString should not include regex("(?i)cartesian")
    val expG = (for { k <- 1L to 6L; i <- 1L to 30L; if i % 7 == k }
      yield (k, "v" + i)).sorted
    outG.collect().map(r => (r.getLong(0), r.getString(1))).sorted shouldBe expG.toArray
  }

  it should "surface macro aborts as compile errors at quote time" in {
    // dependent on a DISTRIBUTED bag (the literal DataBag(seq) spelling
    // now derives a local flatMap instead — ComprehensionSpec)
    val bad = """
      (s0: org.apache.spark.sql.SparkSession) => {
        implicit val spark: org.apache.spark.sql.SparkSession = s0
        import spark.implicits._
        import graft.api._
        import graft.api.comprehensions.onSpark
        val xs = DataBag((1L to 5L).toSeq)
        val ys = DataBag((1L to 5L).toSeq)
        val zs = DataBag((6L to 9L).toSeq)
        onSpark { for { x <- xs; y <- (if (x > 2L) ys else zs) } yield x + y }.toDF
      }"""
    val e = intercept[Throwable] {
      RuntimeQuotation.compile[SparkSession => DataFrame](bad)
    }
    e.getMessage should include("depends on an earlier generator variable")
  }
}

/** Quotes one snippet on a fresh session, prints the result and the jar it
  * shipped, and exits — the JVM whose exit the class-dir spec watches. */
object RuntimeQuotationExitProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    println(RuntimeQuotation.compile[Long]("40L + 2L")(spark))
    // the snippet jars under the compiler's class directories
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    for (d <- tmp.listFiles() if d.getName.startsWith("graft_rtq_classes");
         s <- d.listFiles() if s.isDirectory; j <- s.listFiles() if j.getName.endsWith(".jar"))
      println(j.getPath)
    spark.stop()
  }
}
