package graft.api

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.tools.nsc.{Global, Settings}
import scala.tools.nsc.reporters.StoreReporter

import org.apache.spark.sql.SparkSession

/** Runtime quotation — the reference's `RuntimeCompiler` path
  * (emma-language compiler/RuntimeCompiler.scala:28-53): quoted programs
  * compiled at RUNTIME rather than by scalac at build time, which is what
  * makes the comprehension front-end usable from a REPL, a notebook, or
  * any host that assembles pipeline source dynamically.
  *
  * Spark-first shape: the snippet is compiled by the in-JVM Scala compiler
  * (`scala.tools.nsc`, shipped in the Spark distribution's scala-compiler
  * jar — no extra dependency) into REAL class files, which are jarred and
  * handed to `SparkSession.addArtifact` — the session-scoped dynamic-code
  * channel (Spark 4 isolates SQL-execution classloaders per session, so a
  * bare `sparkContext.addJar` never reaches SQL tasks) — so executors can
  * deserialize the quoted program's lambdas inside tasks. (A `ToolBox`
  * would be simpler but compiles into an in-memory
  * classloader Spark's task deserializer cannot see.) Blackbox macros
  * expand during this compilation exactly as at build time, so
  * `comprehensions.onSpark { for ... }` inside a runtime snippet derives
  * the same equi-join plans as compiled code, and macro aborts (e.g. a
  * genuinely dependent generator) surface as compile errors at QUOTE time,
  * never on the cluster.
  *
  * One compiler per JVM: a resident `Global`, created on the first miss,
  * runs every compile (its symbol tables and macro classloader stay warm),
  * and each run gets a fresh reporter state and its own output directory.
  * One compile per program SHAPE: the numeric literals of a new source
  * become constructor arguments of the generated class, so a resubmission
  * that differs only in numeric constants (a notebook re-run with an
  * edited threshold) instantiates the already compiled class with the new
  * values. On `perfbench` `dsl_programs` (traced seed 1, 4-core host) a
  * literal-edited quote took 15 ms where it compiled for 745 ms before,
  * and a verbatim resubmission about 7 ms.
  *
  * Typical use compiles a function so the caller can inject live bindings:
  *
  * {{{
  * val pipeline = RuntimeQuotation.compile[SparkSession => DataFrame]("""
  *   (s0: org.apache.spark.sql.SparkSession) => {
  *     implicit val spark = s0; import spark.implicits._
  *     import graft.api._, graft.api.comprehensions.onSpark
  *     ...
  *     onSpark { for { x <- xs; y <- ys; if kx(x) == ky(y) } yield ... }.toDF
  *   }""")
  * pipeline(spark)
  * }}}
  */
object RuntimeQuotation {

  private lazy val outDir: Path = {
    val d = Files.createTempDirectory("graft_rtq_classes")
    // deleteOnExit skips a non-empty directory: remove the whole tree
    Runtime.getRuntime.addShutdownHook(new Thread(() => graft.BenchMode.deleteRecursively(d)))
    d
  }
  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Number of ACTUAL scalac runs (cache misses) — spec/telemetry hook. */
  private[graft] val compilations = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A compiled snippet class. The evaluation entry point still runs per
    * submission — caching covers COMPILATION, not the snippet's effects
    * (the reference's RuntimeCompiler instances reuse a codegen dir the
    * same way, emma-language compiler/RuntimeCompiler.scala:28-53). */
  private final case class Compiled(cls: String, dir: Path, jar: Path,
      // sessions this jar is already registered with — a cache hit from a
      // NEW session must still ship the jar there. WeakHashMap keyed by the
      // session object itself (SparkSession has identity equals): a
      // collected session's entry vanishes, so a later session can never
      // alias a reused identity hash and silently skip registration
      registered: java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** A source with its numeric literals lifted out: `text` reads literal
    * `i` as the local `rtq$l<i>` of type `types(i)`, bound to `values(i)`. */
  private final case class Shape(text: String, types: Seq[String], values: Array[Any]) {
    def key: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest((text + "\u0000" + types.mkString(",")).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
  }

  // all guarded by compile()'s lock
  private val shapes = mutable.HashMap.empty[String, Compiled]
  private val notLiftable = mutable.HashSet.empty[String]
  private val verbatim = mutable.HashMap.empty[String, (Compiled, Array[Any])]
  private var resident: Compiler = _

  /** The resident compiler and the reporter it writes to. */
  private final class Compiler {
    val settings = new Settings()
    settings.usejavacp.value = true // forked JVMs carry the full classpath
    settings.Yrangepos.value = true // literal spans for lift()
    val reporter = new StoreReporter(settings)
    val global = new Global(settings, reporter)
  }

  /** Parse, typecheck (expanding macros), compile, register the resulting
    * classes with the Spark context, and evaluate; the result is cast to
    * `T`. Compilation errors raise `RuntimeQuotationError` carrying the
    * compiler messages. Identical source (byte-for-byte) skips even the
    * parse; a source that differs from a compiled one only in Int, Long,
    * Float or Double literals reuses its class files and jar. Any other
    * edit, comments included, compiles. Literals in patterns, types,
    * annotations and `final val` right-hand sides stay in the text, as do
    * String, Char and Boolean literals (the comprehension macro matches
    * string constants). A lifted shape that does not compile (a literal
    * narrowed to `Byte`, a literal type, or any other failure) compiles
    * verbatim, and its later literal edits compile verbatim too.
    *
    * DRIVER-side semantics match the uncached path: every submission
    * instantiates through a FRESH classloader over the cached class-file
    * dir, so snippet-internal mutable statics (an `object` counter defined
    * in the snippet) and static-initializer effects run per submission,
    * never shared across identical re-submissions. EXECUTOR-side the jar
    * registers once per session, so executor statics are per (session,
    * snippet) — keep executor-visible state out of snippet statics. */
  def compile[T](code: String)(implicit spark: SparkSession): T = synchronized {
    val (entry, args) = verbatim.getOrElseUpdate(code, resolve(code))
    register(entry, spark)
    // fresh per submission; NOT closed — the snippet's classes (and its
    // lambdas inside running plans) stay loadable for the session's life
    val loader = new java.net.URLClassLoader(
      Array(entry.dir.toUri.toURL), getClass.getClassLoader)
    loader.loadClass(entry.cls).getDeclaredConstructor(classOf[Array[Any]])
      .newInstance(args).asInstanceOf[java.util.function.Supplier[Any]]
      .get().asInstanceOf[T]
  }

  private def resolve(code: String): (Compiled, Array[Any]) = {
    val shape = lift(code)
    val key = shape.key
    if (shape.types.isEmpty || notLiftable(key))
      (compileNow(code, Nil), Array.empty[Any])
    else shapes.get(key) match {
      case Some(c) => (c, shape.values)
      case None =>
        try {
          val c = compileNow(shape.text, shape.types)
          shapes(key) = c
          (c, shape.values)
        } catch {
          case scala.util.control.NonFatal(_) =>
            notLiftable += key
            (compileNow(code, Nil), Array.empty[Any])
        }
    }
  }

  /** The class wrapped around a snippet: a Supplier gives it an evaluation
    * entry point that needs no scala-reflect at load time, and its one
    * constructor argument carries the lifted literal values. */
  private def header(cls: String, types: Seq[String]): String =
    s"class $cls(rtq$$args: Array[Any]) extends java.util.function.Supplier[Any] {\n" +
      s"  override def get(): Any = {\n" + types.zipWithIndex.map { case (t, i) =>
        // `;` so a snippet opening with `{` is not read as an argument
        s"    val rtq$$l$i = rtq$$args($i).asInstanceOf[$t];\n"
      }.mkString
  private val footer = "\n  }\n}\n"

  private val numeral = """-?\s*[0-9.][0-9a-fA-FxX._]*([eE][+-]?[0-9_]+)?[lLfFdD]?""".r

  /** Parse `code` as it will be compiled and replace each numeric literal
    * in term position with `(rtq$l<i>)`. A source that does not parse is
    * returned whole, so its compile reports the syntax error. */
  private def lift(code: String): Shape = withCompiler { c =>
    import c.global._
    val head = header("P", Nil)
    val from = head.length
    val src = head + code + footer
    new Run()
    val tree = newUnitParser(src, "<quoted>").parse()
    val lits = mutable.TreeMap.empty[Int, (Int, Any)] // start -> (end, value)
    object collect extends Traverser {
      override def traverse(t: Tree): Unit = t match {
        case Literal(k @ Constant(_: Int | _: Long | _: Float | _: Double))
            if t.pos.isRange && t.pos.start >= from && t.pos.end <= from + code.length &&
              numeral.matches(src.substring(t.pos.start, t.pos.end)) =>
          lits(t.pos.start - from) = (t.pos.end - from, k.value)
        case CaseDef(_, guard, body) => traverse(guard); traverse(body)
        case ValDef(mods, _, _, rhs) => if (!mods.isFinal) traverse(rhs)
        case DefDef(_, _, _, vparamss, _, rhs) => vparamss.flatten.foreach(traverse); traverse(rhs)
        case ClassDef(_, _, _, impl) => traverse(impl)
        case ModuleDef(_, _, impl) => traverse(impl)
        case Template(_, self, body) => traverse(self); body.foreach(traverse)
        case Typed(expr, _) => traverse(expr)
        case TypeApply(fun, _) => traverse(fun)
        case Annotated(_, arg) => traverse(arg)
        case _: New | _: TypTree | _: TypeDef => ()
        case _ => super.traverse(t)
      }
    }
    if (c.reporter.hasErrors) Shape(code, Nil, Array.empty)
    else {
      collect.traverse(tree)
      val text = new StringBuilder
      var at = 0
      lits.zipWithIndex.foreach { case ((start, (end, _)), i) =>
        text ++= code.substring(at, start) ++= s"(rtq$$l$i)"
        at = end
      }
      text ++= code.substring(at)
      val values = lits.values.map(_._2).toArray
      Shape(text.toString, values.toSeq.map {
        case _: Int => "Int"
        case _: Long => "Long"
        case _: Float => "Float"
        case _ => "Double"
      }, values)
    }
  }

  /** Run `body` on the resident compiler with a clean reporter. A crash
    * (anything but reported errors) drops the compiler; the next call
    * builds a new one. */
  private def withCompiler[A](body: Compiler => A): A = {
    if (resident == null) resident = new Compiler
    resident.reporter.reset()
    try body(resident)
    catch {
      case e: RuntimeQuotationError => throw e
      case e: Throwable => resident = null; throw e
    }
  }

  private def compileNow(code: String, types: Seq[String]): Compiled = withCompiler { c =>
    val n = counter.incrementAndGet()
    compilations.incrementAndGet()
    val cls = s"GraftRtq$n"
    // each snippet compiles into its OWN directory: jars stay one-snippet
    // sized (a shared dir would make jar N re-ship all N-1 predecessors)
    val snippetDir = Files.createDirectories(outDir.resolve(s"rtq$n"))
    val srcFile = snippetDir.resolve(s"$cls.scala")
    Files.writeString(srcFile, header(cls, types) + code + footer)
    c.settings.outputDirs.setSingleOutput(snippetDir.toString)
    new c.global.Run().compile(List(srcFile.toString))
    if (c.reporter.hasErrors)
      throw new RuntimeQuotationError(c.reporter.infos.toSeq
        .filter(_.severity == c.reporter.ERROR)
        .map(i => s"${i.pos.showError(i.msg)}").mkString("\n"))

    Compiled(cls, snippetDir, jarOf(snippetDir, n),
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])
  }

  /** Ship the classes the way spark-shell does: executors fetch the jar
    * before deserializing tasks, so the snippet's lambdas resolve there.
    * Spark 4 isolates SQL-execution classloaders per session (artifact
    * isolation) by default, so the jar must go through the SESSION's
    * artifact manager — a bare sparkContext.addJar lands in the default
    * state that SQL tasks no longer see. When the session was created
    * with `spark.sql.artifact.isolation.enabled=false` (the Bench/Verify
    * driver surface), the classic context channel is the ROBUST one: its
    * file-server registration lives for the SparkContext lifetime,
    * immune to the per-clone artifact-store cleanup that streaming
    * queries' cloned sessions can trigger mid-run (observed as a flaky
    * "Stream .../rtqN.jar was not found" in later, unrelated queries).
    * Idempotent per live session: a cache hit from the same session skips
    * the round-trip entirely (compile() is synchronized, so the weak map
    * needs no extra locking). */
  private def register(entry: Compiled, spark: SparkSession): Unit = {
    if (entry.registered.put(spark, java.lang.Boolean.TRUE) == null) {
      val isolated = spark.conf
        .get("spark.sql.artifact.isolation.enabled", "true").toBoolean
      if (isolated) spark.addArtifact(entry.jar.toString)
      else spark.sparkContext.addJar(entry.jar.toString)
    }
  }

  private def jarOf(dir: Path, n: Int): Path = {
    // the jar lives inside the snippet's own class dir, under the one
    // tree the shutdown hook removes — a fresh temp dir per compile would
    // leak one directory per snippet for the life of the machine
    val jarPath = dir.resolve(s"rtq$n.jar")
    val out = new java.util.jar.JarOutputStream(
      Files.newOutputStream(jarPath))
    val walk = Files.walk(dir)
    try {
      walk.filter(_.toString.endsWith(".class")).forEach { p =>
        out.putNextEntry(new java.util.zip.ZipEntry(dir.relativize(p).toString))
        out.write(Files.readAllBytes(p))
        out.closeEntry()
      }
    } finally { walk.close(); out.close() }
    jarPath
  }
}

/** Compilation failure of a runtime-quoted snippet (carries the compiler
  * diagnostics, including comprehension-macro aborts). */
final class RuntimeQuotationError(msg: String) extends RuntimeException(msg)
