package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree.{ClassNode, FieldInsnNode, InvokeDynamicInsnNode,
  LdcInsnNode, MethodInsnNode, TypeInsnNode}
import org.scalatest.funsuite.AnyFunSuite

/** Reachability census of the compiled main code, per method: every
  * method declared in `src/main` must be reachable from an entry point,
  * or belong to a unit on the reasoned allowlist below. Code whose only
  * callers are its own specs fails the suite, the way an unbounded
  * collect fails [[CollectAuditSpec]]. A reference that a spec checks a
  * reached path against lives in test scope, next to that spec.
  *
  * A node is a class and a method name; descriptors are ignored, so
  * overloads merge. A reached method reaches:
  *  - the target of each invoke instruction, and on a graft type also
  *    the same-named methods of its graft subtypes (overrides) and
  *    supertypes (inherited bodies);
  *  - the bodies its `invokedynamic` bootstraps name (lambda bodies);
  *  - the static initialiser of a class whose static member it uses,
  *    and the constructor after `new` or of a class literal (how
  *    `GraftFunctions` registers expressions);
  *  - a class or method named in a string constant as
  *    `graft.pkg.Obj.method`: expressions call their helpers only
  *    inside the Java text they generate, and Spark loads
  *    `spark.sql.extensions` and encoder classes by name.
  *
  * A class is reached when any of its methods is. Then each of its
  * methods that overrides a method of a non-graft supertype is reached
  * too (`doGenCode`, `eval`, `update`, `productElement`, …): Spark or
  * the JDK calls those. The supertypes' methods are found by
  * reflection.
  *
  * A unit is one named class or object: `X`, `X$` and `X$$anon…`
  * belong to unit `X`, and a nested named class `X$Y` is a unit of its
  * own. The report lists the units no method of which is reached, and
  * the unreached methods of reached units that are declared in source:
  * synthetic and bridge methods, lambda bodies, default-argument
  * getters, static forwarders, case-class machinery and anonymous or
  * local classes follow their owner and are left out.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  /** Entry points, as units. The mains, the library entry, and the
    * session extension that Spark loads by name from
    * `spark.sql.extensions`. perfbench's entry points (`Ingest`,
    * `PipelineConf`, `ParquetSink`, `BatchSink`) are reached from
    * `PipelineMain`. Every method of `SparkEntry` and
    * `GraftExtensions` is a root; of a main, `main`.
    */
  private val mains: Set[String] = Set(
    "graft.PipelineMain", "graft.Bench", "graft.Verify", "graft.PlanAudit",
    "graft.IngestBench", "graft.Scaling")
  private val libraryRoots: Set[String] =
    Set("graft.SparkEntry", "graft.plans.GraftExtensions")

  /** Unreached units that stay, with the reason. Every method of one,
    * and of a unit nested in it (`VersionedLake.CommitConflictException`),
    * is a root of the method report.
    */
  private val allowlist: Map[String, String] = Map(
    "graft.stream.StreamLakeSink" ->
      ("batch-id manifest commit for foreachBatch: a commit protocol " +
        "that must survive a crash at each step, and the marker a " +
        "batch-keyed ingest commit can reuse"),
    "graft.sink.VersionedLake" ->
      ("create-exclusive versioned commit with vacuum: a commit " +
        "protocol that must survive a crash at each step"))

  private lazy val main: Graph = {
    val dir = Paths.get(
      SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(Files.isDirectory(dir), s"main classes are not a directory: $dir")
    val files: Seq[Path] = scala.util.Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".class")).toSeq
    }
    new Graph(files.map(p => parse(Files.readAllBytes(p))))
  }

  private def within(units: Set[String])(unit: String): Boolean =
    units.exists(a => unit == a || unit.startsWith(a + "$"))

  private lazy val baseRoots: Set[Node] = {
    val missing = (mains ++ libraryRoots) -- main.units
    assert(missing.isEmpty, s"root(s) with no compiled class: $missing")
    main.nodesOf(within(libraryRoots)) ++
      main.classes.collect { case c if c.hasMain && mains(c.unit) => Node(c.name, "main") }
  }

  test("every main method is reached from an entry point or allowlisted") {
    val reached = main.walk(baseRoots ++ main.nodesOf(within(allowlist.keySet)))
    val report = main.report(reached)
    if (report.nonEmpty) fail(
      s"${report.size} source(s) hold code no entry point reaches — " +
        "delete it, reach it from a root, or move a spec-only reference " +
        s"to test scope:\n  ${report.mkString("\n  ")}")
  }

  test("each allowlisted unit is unreached without its own roots") {
    val reachedUnits = main.walk(baseRoots).map(n => unitOf(n.cls))
    val stale = allowlist.keySet.filter(a =>
      !main.units(a) || reachedUnits.exists(within(Set(a))))
    assert(stale.isEmpty,
      s"allowlisted unit(s) now reached or gone: $stale — drop the entry")
  }

  test("every main(String[]) is a declared root") {
    val undeclared = main.classes.filter(_.hasMain).map(_.unit).toSet -- mains
    assert(undeclared.isEmpty,
      s"main(s) not on the root list: $undeclared — declare them as roots")
  }

  // The rules, each over the compiled classes of `graft.reachfixture`.
  private lazy val fixture: Graph = new Graph(Seq(
    "Sink", "FileSink", "Kernels", "Kernels$", "Gen", "Util", "Util$",
    "Entry", "Entry$").map { n =>
    val in = getClass.getResourceAsStream(s"/graft/reachfixture/$n.class")
    try parse(in.readAllBytes()) finally in.close()
  })
  private lazy val fixtureReached: Set[Node] = fixture.walk(
    Set(Node("graft/reachfixture/Entry$", "run")))
  private def fixtureHas(cls: String, name: String): Boolean =
    fixtureReached(Node(s"graft/reachfixture/$cls", name))

  test("a call on a trait reaches the override in a subtype") {
    assert(fixtureHas("Sink", "write"))
    assert(fixtureHas("FileSink", "write"))
  }

  test("a method named only in generated Java text is reached") {
    assert(fixtureHas("Kernels$", "twice"))
    assert(!fixtureHas("Kernels$", "thrice"))
  }

  test("a method Spark or the JDK calls is reached with its class") {
    assert(fixtureHas("Gen", "getAsInt"))
    assert(!fixtureHas("Gen", "helper"))
  }

  test("a method whose only callers are unreached is reported") {
    assert(fixture.report(fixtureReached) === Seq(
      "ReachabilityFixture.scala: Entry.dead, Gen.helper, Kernels.thrice, " +
        "Util.onlyFromDead"))
  }
}

object ReachabilitySpec {
  /** A class (internal name) and a method name, descriptor ignored. */
  final case class Node(cls: String, name: String)

  /** One method's outgoing edges. `virtual` calls resolve through the
    * graft type hierarchy; the others name an exact node.
    */
  final case class MethodDef(
      name: String, access: Int,
      virtual: Seq[Node], exact: Seq[Node], strings: Seq[String])

  final case class MainClass(
      name: String, superName: String, interfaces: Seq[String],
      source: String, methods: Seq[MethodDef]) {
    val unit: String = unitOf(name)
    def hasMain: Boolean = methods.exists(m => m.name == "main" &&
      (m.access & Opcodes.ACC_STATIC) != 0)
  }

  /** `graft/ext/Multimodal$MediaRow$` → `graft.ext.Multimodal$MediaRow`. */
  def unitOf(internalName: String): String = {
    val slash = internalName.lastIndexOf('/')
    val simple = internalName.substring(slash + 1)
    val named = simple.indexOf("$$") match {
      case -1 => simple
      case i => simple.substring(0, i)
    }
    (internalName.substring(0, slash + 1) + named.stripSuffix("$"))
      .replace('/', '.')
  }

  /** A private method called from a lambda or a companion is emitted
    * under its expanded name (`graft$ext$Dedup$$helper`); it is the
    * source method `helper`.
    */
  def sourceName(name: String): String =
    if (name.startsWith("$anonfun$")) name
    else name.lastIndexOf("$$") match {
      case -1 => name
      case i => name.substring(i + 2)
    }

  def parse(bytes: Array[Byte]): MainClass = {
    val cn = new ClassNode()
    new ClassReader(bytes).accept(cn, 0)
    val methods = cn.methods.asScala.toSeq.map { m =>
      val virtual, exact = Seq.newBuilder[Node]
      val strings = Seq.newBuilder[String]
      def constant(c: Any): Unit = c match {
        case s: String => strings += s
        case h: Handle => virtual += Node(h.getOwner, sourceName(h.getName))
        case t: Type if t.getSort == Type.OBJECT =>
          exact += Node(t.getInternalName, "<init>")
        case _ =>
      }
      m.instructions.iterator().asScala.foreach {
        case i: MethodInsnNode =>
          virtual += Node(i.owner, sourceName(i.name))
          if (i.getOpcode == Opcodes.INVOKESTATIC) exact += Node(i.owner, "<clinit>")
        case i: FieldInsnNode
            if i.getOpcode == Opcodes.GETSTATIC || i.getOpcode == Opcodes.PUTSTATIC =>
          exact += Node(i.owner, "<clinit>")
        case i: TypeInsnNode if i.getOpcode == Opcodes.NEW =>
          exact += Node(i.desc, "<init>")
        case i: InvokeDynamicInsnNode =>
          constant(i.bsm)
          i.bsmArgs.foreach(constant)
        case i: LdcInsnNode => constant(i.cst)
        case _ =>
      }
      MethodDef(sourceName(m.name), m.access,
        virtual.result(), exact.result(), strings.result())
    }
    MainClass(cn.name, cn.superName, cn.interfaces.asScala.toSeq,
      Option(cn.sourceFile).getOrElse("?"), methods)
  }

  /** Names a case class or its companion gets from the compiler. */
  private val caseMachinery = Set(
    "copy", "productPrefix", "productArity", "productElement",
    "productIterator", "productElementName", "productElementNames",
    "canEqual", "equals", "hashCode", "toString", "apply", "unapply",
    "tupled", "curried")

  final class Graph(val classes: Seq[MainClass]) {
    private val byName: Map[String, MainClass] = classes.map(c => c.name -> c).toMap
    val units: Set[String] = classes.map(_.unit).toSet

    private def parents(c: MainClass): Seq[String] =
      Option(c.superName).toSeq ++ c.interfaces

    private val subtypes: Map[String, Seq[String]] =
      classes.flatMap(c => parents(c).filter(byName.contains).map(_ -> c.name))
        .groupMap(_._1)(_._2)

    private def closure(from: String, next: String => Seq[String]): Set[String] = {
      val seen = mutable.Set(from)
      var frontier = Seq(from)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(next).filter(seen.add)
      }
      seen.toSet
    }
    private val supertypes = mutable.Map.empty[String, Set[String]]
    private def supers(c: String): Set[String] = supertypes.getOrElseUpdate(c,
      closure(c, n => byName.get(n).toSeq.flatMap(parents).filter(byName.contains)))
    private val subs = mutable.Map.empty[String, Set[String]]
    private def subsOf(c: String): Set[String] = subs.getOrElseUpdate(c,
      closure(c, subtypes.getOrElse(_, Nil)))

    private val defs: Map[Node, Seq[MethodDef]] =
      classes.flatMap(c => c.methods.map(m => Node(c.name, m.name) -> m))
        .groupMap(_._1)(_._2)

    /** Method names of the non-graft supertypes of `c`, by reflection. */
    private val foreignNames = mutable.Map.empty[String, Set[String]]
    private def foreign(c: String): Set[String] = foreignNames.getOrElseUpdate(c,
      byName.get(c) match {
        case Some(mc) => parents(mc).flatMap(foreign).toSet
        case None =>
          def names(k: Class[_]): Set[String] =
            if (k == null) Set.empty
            else k.getDeclaredMethods.map(_.getName).toSet ++ names(k.getSuperclass) ++
              k.getInterfaces.flatMap(names)
          names(Class.forName(c.replace('/', '.'), false, getClass.getClassLoader))
      })

    /** Classes and methods a string names in dot form: each run of
      * `a.b.C.D.m` read as a package, a (nested) class and a method.
      */
    private val stringTargets = mutable.Map.empty[String, Seq[Node]]
    private def named(s: String): Seq[Node] = stringTargets.getOrElseUpdate(s,
      raw"[A-Za-z_$$][\w$$]*(?:\.[A-Za-z_$$][\w$$]*)+".r.findAllIn(s).toSeq.flatMap { run =>
        val t = run.split('.')
        for {
          j <- 1 until t.length
          k <- j + 1 to t.length
          base = t.take(j).mkString("/") + "/" + t.slice(j, k).mkString("$")
          cls <- Seq(base, base + "$") if byName.contains(cls)
          node <- Seq(Node(cls, "<init>"), Node(cls, "<clinit>")) ++
            (if (k < t.length) Seq(Node(cls, t(k))) else Nil)
        } yield node
      })

    private def resolve(n: Node): Seq[Node] =
      (supers(n.cls) ++ subsOf(n.cls)).toSeq.map(Node(_, n.name)).filter(defs.contains)

    def walk(roots: Set[Node]): Set[Node] = {
      val seen = mutable.Set.empty[Node]
      val seenClass = mutable.Set.empty[String]
      val work = mutable.Stack.empty[Node]
      def reach(n: Node): Unit = if (defs.contains(n) && seen.add(n)) {
        work.push(n)
        supers(n.cls).filter(seenClass.add).foreach { c =>
          val called = foreign(c) ++ Set("writeReplace", "readResolve")
          byName(c).methods.map(_.name).filter(called).foreach(m => reach(Node(c, m)))
        }
      }
      roots.foreach(reach)
      while (work.nonEmpty) {
        defs(work.pop()).foreach { m =>
          m.virtual.flatMap(resolve).foreach(reach)
          m.exact.foreach(reach)
          m.strings.flatMap(named).foreach(reach)
        }
      }
      seen.toSet
    }

    def nodesOf(unit: String => Boolean): Set[Node] =
      defs.keySet.filter(n => unit(unitOf(n.cls)))

    private def isCaseClass(c: String): Boolean =
      byName.get(c.stripSuffix("$")).exists(_.methods.exists(_.name == "productArity"))

    /** Declared in source: not synthetic, not machinery, not a static
      * forwarder of a companion object.
      */
    private def declared(c: MainClass, m: MethodDef): Boolean =
      (m.access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE)) == 0 &&
        !m.name.contains('$') && !m.name.startsWith("<") &&
        m.name != "writeReplace" && m.name != "readResolve" &&
        !(isCaseClass(c.name) && caseMachinery(m.name)) &&
        !((m.access & Opcodes.ACC_STATIC) != 0 && byName.contains(c.name + "$"))

    /** Anonymous and local classes (`X$$anon$1`, `X$Local$1`) follow
      * the method that creates them; a unit with no method is a type.
      */
    private def inSource(c: MainClass): Boolean = {
      val simple = c.name.substring(c.name.lastIndexOf('/') + 1)
      !simple.contains("$$") && !simple.split('$').exists(_.forall(_.isDigit)) &&
        c.methods.nonEmpty
    }

    /** One line per source file: the unreached units and methods. */
    def report(reached: Set[Node]): Seq[String] = {
      val reachedUnits = reached.map(n => unitOf(n.cls))
      val reachedNames = reached.map(n => (unitOf(n.cls), n.name))
      def show(unit: String) = unit.substring(unit.lastIndexOf('.') + 1).replace('$', '.')
      classes.filter(inSource).groupBy(_.source).toSeq.sortBy(_._1).flatMap {
        case (src, cs) =>
          val fileUnits = cs.map(_.unit).toSet
          val deadUnits = fileUnits -- reachedUnits
          // by (unit, name): a static forwarder and its object method merge
          val deadMethods = cs.filter(c => reachedUnits(c.unit)).flatMap(c =>
            c.methods.filter(declared(c, _)).map(m => (c.unit, m.name)))
            .distinct.filterNot(reachedNames)
          val items = (deadUnits.map(show) ++
            deadMethods.map { case (u, m) => s"${show(u)}.$m" }).toSeq.sorted
          if (items.isEmpty) None
          else if (deadUnits == fileUnits) Some(s"$src (whole file)")
          else Some(s"$src: ${items.mkString(", ")}")
      }
    }
  }
}
