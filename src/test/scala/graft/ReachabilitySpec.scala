package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree._
import org.scalatest.funsuite.AnyFunSuite

/** A call-graph walk over compiled classes with the ASM that Spark ships.
  *
  * From a set of root methods it follows:
  *  - `invoke*` instructions, resolved up the class hierarchy and down to
  *    every override in a loaded subclass;
  *  - `invokedynamic` bootstrap arguments and `ldc` method handles (Scala
  *    lambdas compile to `$anonfun$` methods reached this way);
  *  - `ldc` string constants, as calls to methods of that name in the
  *    constant's own class and in every object whose module the same
  *    method loads (`Kernel.call` names its function by a string);
  *  - static forwarder to `Foo$` module method and back;
  *  - class initialisation: touching a class runs its `<clinit>`;
  *  - field reads: reading `x` reaches the accessor method `x()`, so a
  *    `val` counts as reached when its backing field is read;
  *  - library overrides: a method overriding one of a library supertype
  *    (`Iterator.next`, a Catalyst `eval`, a listener callback) is reached
  *    once its class is constructed.
  *
  * Roots are `pkg.Name.member` (every overload of `member` in `Name` and
  * `Name$`) or `pkg.Name.*` (every non-private method of both). An
  * allow-listed method is a root too: what it calls stays with it.
  */
object Reachability {
  final case class Ref(owner: String, name: String, desc: String)

  def read(bytes: Array[Byte]): ClassNode = {
    val n = new ClassNode()
    new ClassReader(bytes).accept(n, ClassReader.SKIP_FRAMES)
    n
  }

  /** Every class file under `dir`. */
  def load(dir: Path): Seq[ClassNode] =
    scala.util.Using.resource(Files.walk(dir)) {
      _.iterator.asScala.filter(_.toString.endsWith(".class"))
        .map(p => read(Files.readAllBytes(p))).toVector
    }

  /** `pkg.Name.member` for a method of class `owner` (internal name). */
  def id(owner: String, name: String): String =
    owner.replace('/', '.').stripSuffix("$") + "." + name

  private val CaseBoilerplate = Set("copy", "productArity", "productElement",
    "productPrefix", "productIterator", "productElementName",
    "productElementNames", "canEqual", "equals", "hashCode", "toString",
    "apply", "unapply", "curried", "tupled", "readResolve", "writeReplace")

  private def flag(access: Int, f: Int) = (access & f) != 0

  final class Graph(classes: Seq[ClassNode], loader: ClassLoader) {
    private val byName: Map[String, ClassNode] =
      classes.map(c => c.name -> c).toMap
    private def methods(c: ClassNode): Seq[MethodNode] = c.methods.asScala.toSeq
    private def supers(c: ClassNode): Seq[String] =
      Option(c.superName).toSeq ++ c.interfaces.asScala
    private val subtypes: Map[String, Seq[String]] =
      classes.flatMap(c => supers(c).map(_ -> c.name))
        .groupMap(_._1)(_._2)

    private def declared(owner: String, name: String, desc: String): Boolean =
      byName.get(owner).exists(methods(_).exists(m =>
        m.name == name && m.desc == desc))

    /** `owner` and every loaded class below it. */
    private def below(owner: String): Seq[String] = {
      val seen = mutable.LinkedHashSet[String]()
      def go(o: String): Unit = if (seen.add(o))
        subtypes.getOrElse(o, Nil).foreach(go)
      go(owner)
      seen.toSeq
    }

    /** the declaration a call on `owner` binds to, searched upward */
    private def upward(owner: String, name: String, desc: String)
        : Option[String] =
      if (declared(owner, name, desc)) Some(owner)
      else byName.get(owner).flatMap(c =>
        supers(c).iterator.map(upward(_, name, desc)).collectFirst {
          case Some(o) => o
        })

    /** `(name, desc)` of the methods of `c`'s supertypes outside the
      * loaded classes */
    private def libraryMethods(c: ClassNode): Set[(String, String)] = {
      val out = mutable.Set[(String, String)]()
      def lib(name: String): Unit =
        Try(Class.forName(name.replace('/', '.'), false, loader)).foreach {
          k =>
            def all(k: Class[_]): Unit = if (k != null) {
              k.getDeclaredMethods.foreach(m =>
                out += m.getName -> Type.getMethodDescriptor(m))
              all(k.getSuperclass); k.getInterfaces.foreach(all)
            }
            all(k)
        }
      def go(n: String): Unit = byName.get(n) match {
        case Some(k) => supers(k).foreach(go)
        case None => lib(n)
      }
      supers(c).foreach(go)
      out.toSet
    }

    /** Every method reached from `roots`. */
    def reach(roots: Seq[Ref]): Set[Ref] = {
      val reached = mutable.Set[Ref]()
      val queue = mutable.Queue[Ref]()
      val touched = mutable.Set[String]()
      val constructed = mutable.Set[String]()
      val fieldsRead = mutable.Set[(String, String)]()

      def mark(r: Ref): Unit =
        if (declared(r.owner, r.name, r.desc) && reached.add(r)) {
          queue += r
          touch(r.owner)
          // static forwarder <-> module method
          val twin = if (r.owner.endsWith("$")) r.owner.stripSuffix("$")
                     else r.owner + "$"
          mark(Ref(twin, r.name, r.desc))
          if (r.name == "<init>" && constructed.add(r.owner))
            byName.get(r.owner).foreach { c =>
              val lib = libraryMethods(c)
              methods(c).filter(m => lib(m.name -> m.desc))
                .foreach(m => mark(Ref(c.name, m.name, m.desc)))
            }
        }
      def touch(owner: String): Unit = if (touched.add(owner))
        mark(Ref(owner, "<clinit>", "()V"))
      def call(owner: String, name: String, desc: String, exact: Boolean)
          : Unit = {
        touch(owner)
        upward(owner, name, desc).foreach(o => mark(Ref(o, name, desc)))
        if (!exact) below(owner).foreach(o => mark(Ref(o, name, desc)))
      }
      def named(owner: String, name: String): Unit =
        byName.get(owner).foreach(methods(_).filter(_.name == name)
          .foreach(m => mark(Ref(owner, m.name, m.desc))))
      def handle(h: Handle): Unit =
        call(h.getOwner, h.getName, h.getDesc,
          exact = h.getTag == Opcodes.H_INVOKESTATIC ||
            h.getTag == Opcodes.H_INVOKESPECIAL ||
            h.getTag == Opcodes.H_NEWINVOKESPECIAL)
      def readField(owner: String, name: String): Unit =
        if (fieldsRead.add(owner -> name))
          byName.get(owner).foreach(methods(_)
            .filter(m => m.name == name && m.desc.startsWith("()"))
            .foreach(m => mark(Ref(owner, m.name, m.desc))))

      roots.foreach(mark)
      while (queue.nonEmpty) {
        val r = queue.dequeue()
        val m = methods(byName(r.owner))
          .find(m => m.name == r.name && m.desc == r.desc).get
        val strings = mutable.Buffer[String]()
        val modules = mutable.Set(r.owner.stripSuffix("$"),
          r.owner.stripSuffix("$") + "$")
        m.instructions.iterator.asScala.foreach {
          case i: MethodInsnNode =>
            call(i.owner, i.name, i.desc, exact =
              i.getOpcode == Opcodes.INVOKESTATIC ||
                i.getOpcode == Opcodes.INVOKESPECIAL)
          case i: InvokeDynamicInsnNode =>
            i.bsmArgs.foreach {
              case h: Handle => handle(h)
              case _ =>
            }
          case i: FieldInsnNode =>
            touch(i.owner)
            if (i.name == "MODULE$") modules += i.owner
            if (i.getOpcode == Opcodes.GETFIELD ||
                i.getOpcode == Opcodes.GETSTATIC) readField(i.owner, i.name)
          case i: TypeInsnNode => touch(i.desc)
          case i: LdcInsnNode => i.cst match {
            case s: String => strings += s
            case h: Handle => handle(h)
            case _ =>
          }
          case _ =>
        }
        for (s <- strings; o <- modules) named(o, s)
      }
      reached.toSet
    }

    /** Root references for `pkg.Name.member` / `pkg.Name.*`; empty when
      * nothing matches. */
    def resolve(root: String): Seq[Ref] = {
      val dot = root.lastIndexOf('.')
      val cls = root.take(dot).replace('.', '/')
      val member = root.drop(dot + 1)
      Seq(cls, cls + "$").flatMap(byName.get).flatMap(c =>
        methods(c).filter(m =>
          if (member == "*") !flag(m.access, Opcodes.ACC_PRIVATE) &&
            m.name != "<clinit>"
          else m.name == member)
          .map(m => Ref(c.name, m.name, m.desc)))
    }

    /** Source-level methods: what a reader of `src/main` would call a
      * method. Compiler-generated members (lambda bodies, default-argument
      * getters, lazy-val initialisers, bridges, static forwarders, case
      * class boilerplate and accessors, anonymous classes, constructors)
      * are left out; they are reached or not with the method they serve. */
    def sourceMethods: Seq[Ref] = classes.flatMap { c =>
      val names = methods(c).map(_.name).toSet
      // a case class declares productPrefix; its companion, unapply
      val caseLike = names("productPrefix") ||
        (c.name.endsWith("$") && names("unapply"))
      val fields = c.fields.asScala.map(_.name).toSet
      val mirror = byName.contains(c.name + "$")
      if (c.name.contains("$$anon") || c.name.contains("$typecreator") ||
          flag(c.access, Opcodes.ACC_SYNTHETIC)) Nil
      else methods(c).filter { m =>
        !flag(m.access, Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE) &&
          !m.name.startsWith("<") && !m.name.contains("$") &&
          !(mirror && flag(m.access, Opcodes.ACC_STATIC)) &&
          !(caseLike && (CaseBoilerplate(m.name) || fields(m.name))) &&
          !(c.name.endsWith("$") && m.name == "writeReplace")
      }.map(m => Ref(c.name, m.name, m.desc))
    }
  }

  /** Source-level methods not reached from `roots`, by id, with the
    * descriptors of the unreached overloads. */
  def unreached(g: Graph, roots: Seq[Ref]): Map[String, Seq[String]] = {
    val reached = g.reach(roots)
    g.sourceMethods.filterNot(reached).groupMap(r => id(r.owner, r.name))(
      _.desc)
  }

  /** `id: reason` lines; `#` starts a comment line. An entry without a
    * reason is an error. */
  def parseAllowList(text: String): Map[String, String] =
    text.linesIterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val i = l.indexOf(':')
        require(i > 0 && l.drop(i + 1).trim.nonEmpty,
          s"allow-list entry without a reason: $l")
        l.take(i).trim -> l.drop(i + 1).trim
      }.toMap

  /** `graft.` members a Scala source references: `Name.member` for each
    * imported `graft` name, `new Name` (as `Name.<init>`), and
    * fully-qualified `graft.pkg.Name.member`. */
  def graftReferences(src: String): Set[String] = {
    val imported: Map[String, String] =
      ("""import\s+(graft(?:\.\w+)*)\.\{([^}]*)\}""".r.findAllMatchIn(src)
        .flatMap(m => m.group(2).split(",").map(_.trim).filter(_.nonEmpty)
          .map(n => n -> s"${m.group(1)}.$n")) ++
       """import\s+(graft(?:\.\w+)*)\.([A-Z]\w*)\s""".r.findAllMatchIn(src)
        .map(m => m.group(2) -> s"${m.group(1)}.${m.group(2)}")).toMap
    val viaImports = imported.toSeq.flatMap { case (n, fq) =>
      s"""(?<![\\w.])$n\\.([a-z]\\w*)""".r.findAllMatchIn(src)
        .map(m => s"$fq.${m.group(1)}") ++
        s"""\\bnew\\s+$n\\b""".r.findAllMatchIn(src).map(_ => s"$fq.<init>")
    }
    val qualified = """\b(graft(?:\.[a-z]\w*)*\.[A-Z]\w*)\.([a-z]\w*)""".r
      .findAllMatchIn(src).map(m => s"${m.group(1)}.${m.group(2)}")
    (viaImports ++ qualified).toSet
  }
}

class ReachabilitySpec extends AnyFunSuite {
  import Reachability._

  private val Mains = Seq("graft.cli.Main", "graft.service.Wcmp2Service",
    "graft.Probe", "graft.Bench", "graft.Verify", "graft.Scaling",
    "graft.tools.TrainBpe").map(_ + ".main")

  /** The main-scope APIs `perfbench/jvm` compiles against. sbt does not
    * build that directory, so these are named here, and the scan below
    * keeps the list complete. */
  private val PerfbenchRoots = Seq(
    "graft.engine.Reports.validateOne", "graft.engine.Reports.withEtsGate",
    "graft.engine.Reports.reports", "graft.engine.Validator.validate",
    "graft.engine.Validator.violations",
    "graft.engine.Validator.partitionVerdicts",
    "graft.expressions.JsonFacts.jsonFacts",
    "graft.engine.DatasetRules.uniquenessViolations",
    "graft.engine.DatasetRules.referentialViolations",
    "graft.engine.DatasetRules.columnStats",
    "graft.engine.DatasetRules.langDrift",
    "graft.ledger.MetricsLedger.*")

  private val Roots = Mains ++ Seq("graft.SparkEntry.entry",
    "graft.SparkEntry.queries", "graft.SparkEntry.oracleSql",
    "graft.streaming.StreamingValidator.*",
    "graft.streaming.StreamingDedup.*") ++ PerfbenchRoots

  /** the project root: the nearest ancestor of the test classes that holds
    * `src/main/scala` */
  private lazy val projectRoot: Path = {
    val classes = Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .find(p => Files.isDirectory(p.resolve("src/main/scala"))).get
  }

  private lazy val mainGraph = new Graph(
    load(Paths.get(SparkEntry.getClass.getProtectionDomain.getCodeSource
      .getLocation.toURI)),
    getClass.getClassLoader)

  private lazy val allowList: Map[String, String] = parseAllowList(
    Files.readString(projectRoot.resolve(
      "src/test/resources/reachability/allow-list.txt"), UTF_8))

  test("reachability: no main-scope method is unreached from the roots " +
       "but the allow-list") {
    val roots = Roots.map(r => r -> mainGraph.resolve(r))
    val missing = roots.collect { case (r, refs) if refs.isEmpty => r }
    assert(missing.isEmpty, s"roots that name no method: $missing")
    val dead = unreached(mainGraph, roots.flatMap(_._2))
    val stale = allowList.keySet -- dead.keySet
    assert(stale.isEmpty, s"allow-list entries that are reached or gone: " +
      stale.toSeq.sorted.mkString(", "))
    // what an allow-listed method calls stays with it
    val kept = unreached(mainGraph,
      (Roots ++ allowList.keys).flatMap(mainGraph.resolve))
    val unexpected = kept.keys.toSeq.sorted
    assert(unexpected.isEmpty, "main-scope methods no root reaches (delete " +
      "them, move them to src/test, or allow-list them with a reason):\n" +
      unexpected.map(u => s"$u ${kept(u).mkString(" ")}").mkString("\n"))
  }

  test("reachability: every graft member perfbench/jvm references is a " +
       "named root") {
    val dir = projectRoot.resolve("perfbench/jvm")
    val refs = scala.util.Using.resource(Files.list(dir)) {
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    }.flatMap(f => graftReferences(Files.readString(f, UTF_8)))
    assert(refs.exists(_.startsWith("graft.engine.Validator.")))
    def covered(r: String) = PerfbenchRoots.exists(root =>
      root == r || (root.endsWith(".*") && r.startsWith(root.dropRight(1))))
    assert(refs.filterNot(covered).isEmpty,
      s"perfbench/jvm references outside the roots: ${refs.filterNot(covered)}")
  }

  /** `synthetic/Main`: `main` calls `used` through a lambda handle and
    * reads field `v`; `unused` and `v`'s accessor twin `w` are not read. */
  private def synthetic: Graph = {
    import org.apache.xbean.asm9.ClassWriter
    val cw = new ClassWriter(ClassWriter.COMPUTE_MAXS)
    cw.visit(Opcodes.V17, Opcodes.ACC_PUBLIC, "synthetic/Main", null,
      "java/lang/Object", null)
    Seq("v", "w").foreach(f =>
      cw.visitField(Opcodes.ACC_PRIVATE | Opcodes.ACC_STATIC, f, "I", null,
        null).visitEnd())
    def method(name: String, body: org.apache.xbean.asm9.MethodVisitor => Unit)
        : Unit = {
      val mv = cw.visitMethod(Opcodes.ACC_PUBLIC | Opcodes.ACC_STATIC, name,
        if (name == "main") "([Ljava/lang/String;)V" else "()I", null, null)
      mv.visitCode(); body(mv); mv.visitMaxs(0, 0); mv.visitEnd()
    }
    method("main", { mv =>
      mv.visitLdcInsn(new Handle(Opcodes.H_INVOKESTATIC, "synthetic/Main",
        "used", "()I", false))
      mv.visitInsn(Opcodes.POP)
      mv.visitFieldInsn(Opcodes.GETSTATIC, "synthetic/Main", "v", "I")
      mv.visitInsn(Opcodes.POP)
      mv.visitInsn(Opcodes.RETURN)
    })
    Seq("used", "unused", "v", "w").foreach(n => method(n, { mv =>
      mv.visitInsn(Opcodes.ICONST_0); mv.visitInsn(Opcodes.IRETURN)
    }))
    cw.visitEnd()
    new Graph(Seq(read(cw.toByteArray)), getClass.getClassLoader)
  }

  test("reachability self-test: a method no root reaches is reported, a " +
       "handle or a field read reaches") {
    val g = synthetic
    assert(unreached(g, g.resolve("synthetic.Main.main")).keySet ==
      Set("synthetic.Main.unused", "synthetic.Main.w"))
  }

  test("reachability self-test: an allow-list entry without a reason fails") {
    assert(parseAllowList("# note\na.B.c: why\n") == Map("a.B.c" -> "why"))
    Seq("a.B.c", "a.B.c:", "a.B.c:   ").foreach(l =>
      assertThrows[IllegalArgumentException](parseAllowList(l)))
  }

  test("reachability self-test: the perfbench scan finds imported, " +
       "constructed and qualified members") {
    assert(graftReferences(
      "import graft.engine.{Reports, Validator}\nimport graft.x.Led\n" +
      "Validator.validate(r); new Led(d); graft.y.Z.f(1); q.Reports.no") ==
      Set("graft.engine.Validator.validate", "graft.x.Led.<init>",
        "graft.y.Z.f"))
  }
}
