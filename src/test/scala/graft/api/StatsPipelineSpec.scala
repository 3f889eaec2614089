package graft.api

import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.api.comprehensions.onSpark
import graft.lib.dstat
import graft.testlib.JobCount.countJobs

/** r14: SCALAR-returning `@lib` defs splice like bag-returning ones — the
  * reference contract (`Lib.expand` inlines ANY annotated def,
  * compiler/lib/Lib.scala:49-51; the shipped library is largely
  * bag-CONSUMING scalar defs, emma-lib/.../stats/stat.scala:27-55).
  * Covers: guard/head splicing of dstat members, the ANF-inverse
  * val inlining that re-exposes `variance`'s val-bound mean, the fused
  * two-pass z-score pipeline (q253's plan contract), correlated scalar
  * consumption, the same-unit registry path, the alias-typed object-level
  * carrier (ADVICE r13), and the retained aborts. */
class StatsPipelineSpec extends AnyFlatSpec with Matchers {

  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  behavior of "scalar-returning @lib defs"

  it should "splice a scalar meanL into a guard and derive a plain pre-filter" in {
    val vals = (1L to 100L).map(i => i * 3 % 97)
    val xs = DataBag(vals)
    val out = onSpark { for { x <- xs; if x > dstat.meanL(xs) } yield x }
    val mu = vals.sum / vals.size
    out.collect().sorted shouldBe vals.filter(_ > mu).sorted
  }

  it should "splice a scalar mean (Double) in the head; its folds hoist once" in {
    val vals = (1L to 40L).map(i => (i * 7 % 23).toDouble)
    val xs = DataBag(vals)
    val out = onSpark { for { x <- xs } yield (x, x - dstat.mean(xs)) }
    // integer-valued doubles: sums exact in any order, so mean is exact
    val mu = vals.sum / vals.size
    out.collect().sorted shouldBe vals.map(v => (v, v - mu)).sorted
  }

  it should "inline variance's val-bound mean (ANF-inverse) and match the two-pass value" in {
    val vals = (1L to 50L).map(i => (i * 7 % 23).toDouble)
    val xs = DataBag(vals)
    val out = onSpark { for { x <- xs } yield (x, dstat.variance(xs)) }
    val mu = vals.sum / vals.size
    val expVar = vals.map(v => (v - mu) * (v - mu)).sum / vals.size
    val got = out.collect()
    got.length shouldBe vals.length
    got.foreach { case (_, v) => v shouldBe (expVar +- 1e-9) }
  }

  it should "derive a CORRELATED scalar sumL over a keyed sub-bag (pre-aggregate + join)" in {
    val xsv = 1L to 12L
    val ysv = (1L to 60L).map(i => i % 25)
    val xs = DataBag(xsv)
    val ys = DataBag(ysv)
    val out = onSpark {
      for { x <- xs } yield (x, dstat.sumL(ys.withFilter(y => y % 5 == x % 5)))
    }
    val exp = xsv.map(x => (x, ysv.filter(y => y % 5 == x % 5).sum))
    out.collect().sorted shouldBe exp.sorted
  }

  it should "fuse the BARE z-score pipeline's first-pass moments into ONE job (two passes total)" in {
    // r15 (VERDICT task 1): the q253 gate's shape WITHOUT any manual
    // AutoCache.scope wrapper — the expansion self-establishes the fusion
    // scope (the reference runs fold-fusion unconditionally,
    // SparkCompiler.scala:36-39). All first-pass folds (sum/size,
    // duplicates included) queue under the self-established scope and
    // execute as ONE fused foldAll; the squared-deviation pass is the
    // second, irreducible job.
    val seq = (1L to 400L).map(i => i * 31 % 1000)
    val cents = DataBag(seq)
    val (out, n) = countJobs {
      onSpark {
        for { c <- cents }
          yield (c, ((c - dstat.meanL(cents)).toDouble /
            dstat.stddevL(cents) * 1000.0).floor.toLong)
      }
    }
    n.jobs shouldBe 2 // pass 1: fused moments; pass 2: squared devs
    val mu = seq.sum / seq.size
    val vr = seq.map(c => (c - mu) * (c - mu)).sum / seq.size
    val sd = math.sqrt(vr.toDouble)
    val exp = seq.map(c => (c, ((c - mu).toDouble / sd * 1000.0).floor.toLong))
    out.collect().sorted shouldBe exp.sorted
  }

  it should "compose with an EXPLICIT user scope: same two-pass plan, and sibling pipelines share the outer scope's memo" in {
    // an explicit AutoCache.scope still owns the batch/memo state — the
    // expansion's scopeIfInactive is a pass-through inside it. Two
    // sibling quoted pipelines over the SAME bag then share fold memo
    // slots: the second pipeline's meanL moments (sum/size of the same
    // Dataset, same algebra values) are already memoized from pipeline
    // 1's fused first pass, so pipeline 2 adds ZERO jobs — the two-job
    // total is the SAME as pipeline 1 alone. A self-established
    // per-expansion scope would have torn the memo down between
    // siblings and re-run the moments.
    val seq = (1L to 300L).map(i => i * 17 % 500)
    val cents = DataBag(seq)
    val ((out1, out2), n) = countJobs {
      AutoCache.scope { _ =>
        val a = onSpark {
          for { c <- cents }
            yield (c, ((c - dstat.meanL(cents)).toDouble /
              dstat.stddevL(cents) * 1000.0).floor.toLong)
        }
        val b = onSpark {
          for { c <- cents } yield (c, c - dstat.meanL(cents))
        }
        (a, b)
      }
    }
    n.jobs shouldBe 2 // fused moments + pipeline-1 squared devs; pipeline 2 all-memo
    val mu = seq.sum / seq.size
    val vr = seq.map(c => (c - mu) * (c - mu)).sum / seq.size
    val sd = math.sqrt(vr.toDouble)
    val exp1 = seq.map(c => (c, ((c - mu).toDouble / sd * 1000.0).floor.toLong))
    out1.collect().sorted shouldBe exp1.sorted
    out2.collect().sorted shouldBe seq.map(c => (c, c - mu)).sorted
  }

  it should "splice a same-unit scalar helper with a bag parameter (registry path)" in {
    def localMean(zs: DataBag[Long]): Long = zs.sum / zs.size
    val vals = (1L to 30L).map(i => i * 11 % 19)
    val xs = DataBag(vals)
    val out = onSpark { for { x <- xs; if x > localMean(xs) } yield x }
    val mu = vals.sum / vals.size
    out.collect().sorted shouldBe vals.filter(_ > mu).sorted
  }

  it should "carry and splice an object-level member declaring its result through a type ALIAS" in {
    val xsv = (1L to 20L).map(i => (i, i % 4))
    val ysv = (1L to 40L).map(i => (i, i % 4))
    val xs = DataBag(xsv)
    val ys = DataBag(ysv)
    // dependent generator: without the carrier this shape ABORTS, so a
    // passing run proves the alias-typed member was instrumented
    val out = onSpark {
      for { x <- xs; y <- AliasedOpsX.around(x, ys) } yield (x._1, y._1)
    }
    val exp = for { x <- xsv; y <- ysv; if y._2 == x._2 } yield (x._1, y._1)
    out.collect().sorted shouldBe exp.sorted
  }

  it should "keep the cycle abort for mutually recursive SCALAR @lib defs" in {
    """
    val xs = graft.api.DataBag(Seq(1L, 2L))
    graft.api.comprehensions.onSpark {
      for { x <- xs; if x > graft.api.CrossFileLibX.pingS(xs) } yield x
    }
    """ shouldNot compile
  }

  it should "abort a CORRELATED variance (val-bound mean over a correlated chain) with guidance" in {
    // two-pass variance of a per-key sub-bag needs a groupBy, not a
    // scalar splice: the spliced val's rhs still references the bag, the
    // ANF-inverse declines (bag-free rhs only), and the head abort stands
    """
    val xs = graft.api.DataBag(1L to 5L)
    val ys = graft.api.DataBag(1L to 5L)
    graft.api.comprehensions.onSpark {
      for { x <- xs }
        yield (x, graft.lib.dstat.varianceL(ys.withFilter(y => y % 3 == x % 3)))
    }
    """ shouldNot compile
  }

  it should "splice the VECTOR stats module (salg monoids) componentwise-exactly" in {
    import graft.lib.vstat
    // dim 1 sums to -7: a negative, non-divisible sum discriminates
    // truncating division (Scala / and DuckDB integer //: -7/4 = -1)
    // from floor division (-2)
    val data = Seq(Array(1L, -5L, 3L), Array(2L, -9L, 9L),
      Array(-4L, 6L, 0L), Array(5L, 1L, -3L))
    val xs = DataBag(data)
    val out = onSpark {
      for { i <- DataBag((0L until 3L).toSeq) }
        yield (i, vstat.mean(3)(xs)(i.toInt), vstat.variance(3)(xs)(i.toInt),
          vstat.min(3)(xs)(i.toInt), vstat.max(3)(xs)(i.toInt))
    }
    val exp = (0 until 3).map { i =>
      val col = data.map(_(i))
      val mu = col.sum / col.size
      val vr = col.map(v => (v - mu) * (v - mu)).sum / col.size
      (i.toLong, mu, vr, col.min, col.max)
    }
    out.collect().sorted shouldBe exp.sorted
  }

  behavior of "higher-order @lib defs (the reference's summarize module)"

  it should "beta-reduce eta-expanded @lib members so both statistics fuse into ONE first-pass job" in {
    // summarize(meanL _, sumL _): both statistics are first-pass-only
    // folds of the same bag — after beta reduction their sum/size anchors
    // hoist and fuse into a single foldAll (memo dedups the duplicate
    // spellings from the two tuple-component occurrences), so the quoted
    // pipeline costs ONE job. The reference's "N statistics, one pass"
    // contract (summarize.scala:22-67).
    val seq = (1L to 250L).map(i => i * 13 % 400)
    val xs = DataBag(seq)
    val (out, n) = countJobs {
      onSpark {
        for { x <- xs }
          yield (x,
            x - graft.lib.summarize(dstat.meanL _, dstat.sumL _)(xs)._1,
            graft.lib.summarize(dstat.meanL _, dstat.sumL _)(xs)._2)
      }
    }
    n.jobs shouldBe 1
    val mu = seq.sum / seq.size
    out.collect().sorted shouldBe seq.map(x => (x, x - mu, seq.sum)).sorted
  }

  it should "derive summarize(mean, variance) through the two-pass chain and match exactly" in {
    val seq = (1L to 180L).map(i => i * 29 % 700)
    val xs = DataBag(seq)
    val out = onSpark {
      for { x <- xs }
        yield (x, x - graft.lib.summarize(dstat.meanL _, dstat.varianceL _)(xs)._1)
    }
    val mu = seq.sum / seq.size
    out.collect().sorted shouldBe seq.map(x => (x, x - mu)).sorted
  }

  it should "accept the exact reference spelling — bare method values (auto-eta)" in {
    // summarize(stat.mean, stat.variance)(xs) with NO underscore — the
    // typer eta-expands method values against the expected function type,
    // so the inliner sees function literals and beta-reduces as usual
    val seq = (1L to 60L).map(i => i * 3 % 40)
    val xs = DataBag(seq)
    val out = onSpark {
      for { x <- xs }
        yield (x, graft.lib.summarize(dstat.meanL, dstat.sumL)(xs)._2)
    }
    out.collect().sorted shouldBe seq.map(x => (x, seq.sum)).sorted
  }

  it should "accept explicit function LITERAL statistics" in {
    val seq = (1L to 90L).map(i => i * 7 % 50)
    val xs = DataBag(seq)
    val out = onSpark {
      for { x <- xs; if x > graft.lib.summarize(
        (zs: DataBag[Long]) => zs.sum / zs.size)(xs) } yield x
    }
    val mu = seq.sum / seq.size
    out.collect().sorted shouldBe seq.filter(_ > mu).sorted
  }

  it should "disambiguate the overload family by call shape (three statistics)" in {
    val seq = (1L to 120L).map(i => i * 11 % 90)
    val xs = DataBag(seq)
    val out = onSpark {
      for { x <- xs }
        yield (x,
          graft.lib.summarize(dstat.sumL _, dstat.meanL _,
            (zs: DataBag[Long]) => zs.size)(xs)._3)
    }
    out.collect().sorted shouldBe seq.map(x => (x, seq.size.toLong)).sorted
  }

  it should "abort when a function-valued statistic is an OPAQUE runtime value" in {
    """
    val xs = graft.api.DataBag(1L to 10L)
    val f: graft.api.DataBag[Long] => Long = zs => zs.sum
    graft.api.comprehensions.onSpark {
      for { x <- xs; if x > graft.lib.summarize(f)(xs) } yield x
    }
    """ shouldNot compile
  }

  it should "raise ArithmeticException on an EMPTY bag — the documented meanL precondition" in {
    // deliberate failure mode (ADVICE r14 / QuotedStats scaladoc): the
    // Long twins divide by xs.size unguarded, exactly like the
    // reference's stat.mean (stat.scala:37-38). Plain call: raises at the
    // driver division. Quoted call: the hoisted folds yield (0, 0) and
    // the division — residing in the emitted filter closure — raises at
    // the first action, surfacing through Spark's task-failure wrapper.
    val empty = DataBag(Seq.empty[Long])
    an[ArithmeticException] should be thrownBy dstat.meanL(empty)
    val ex = intercept[Throwable] {
      onSpark { for { x <- DataBag(Seq(1L)); if x > dstat.meanL(empty) } yield x }
        .collect()
    }
    Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null).take(10)
      .exists(_.isInstanceOf[ArithmeticException]) shouldBe true
  }

  it should "leave a no-bag-param scalar @lib member as an ordinary static call" in {
    // QuotedOps.cents carries a @graftSrc since r14 (every public member
    // does) but is NOT spliceable (no bag parameter): the quote keeps
    // compiling and the guard evaluates it per row as a plain call
    val xsv = Seq(100.0, 250.0, 400.0)
    val xs = DataBag(xsv)
    val out = onSpark {
      for { x <- xs; if graft.lib.QuotedOps.cents(x) > 20000L } yield x
    }
    out.collect().sorted shouldBe xsv.filter(v => (v * 100 + 0.5).floor.toLong > 20000L).sorted
  }
}
