package graft

import java.io.{ByteArrayInputStream, DataInputStream}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, ClassWriter, Opcodes}
import org.scalatest.funsuite.AnyFunSuite

/** Reachability census of the compiled main code: every named class or
  * object under `src/main` must be reachable from an entry point, or be
  * on the reasoned allowlist below. Code whose only callers are its own
  * specs fails the suite, the way an unbounded collect fails
  * [[CollectAuditSpec]].
  *
  * The walk reads the constant pool of each main class. A class refers
  * to every main class that one of its `CONSTANT_Utf8` entries names,
  * in slash form (`graft/ext/Dedup`, also inside a descriptor) or dot
  * form (`graft.functions.DetMath.lnqDouble`). The dot form matters:
  * several expressions name their helper only inside the Java text
  * they generate, so a walk over class constants alone would call that
  * helper unreached, and deleting it would fail only at codegen time.
  * The nesting attributes (`InnerClasses`, `EnclosingMethod`, nest
  * members) are dropped before the pool is read: an object lists every
  * class nested in it there, used or not.
  *
  * A unit is one named class or object: `X`, `X$` and `X$$anon…`
  * belong to unit `X`, and a nested named class `X$Y` is a unit of its
  * own. Reaching one class of a unit reaches all of its classes.
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec.MainClass

  /** Entry points, as units. The mains, the library entry, and the
    * session extension that Spark loads by name from
    * `spark.sql.extensions`. perfbench's entry points (`Ingest`,
    * `PipelineConf`, `ParquetSink`, `BatchSink`) are reached from
    * `PipelineMain`.
    */
  private val roots: Set[String] = Set(
    "graft.PipelineMain", "graft.Bench", "graft.Verify", "graft.PlanAudit",
    "graft.IngestBench", "graft.Scaling", "graft.IvfProbe",
    "graft.SimHashShardProbe", "graft.SparkEntry",
    "graft.plans.GraftExtensions")

  /** Unreached units that stay, with the reason. A unit nested in an
    * allowlisted one (`VersionedLake.CommitConflictException`) is
    * covered by its entry.
    */
  private val allowlist: Map[String, String] = Map(
    "graft.stream.StreamLakeSink" ->
      ("batch-id manifest commit for foreachBatch: a commit protocol " +
        "that must survive a crash at each step, and the marker a " +
        "batch-keyed ingest commit can reuse"),
    "graft.sink.VersionedLake" ->
      ("create-exclusive versioned commit with vacuum: a commit " +
        "protocol that must survive a crash at each step"))

  /** `graft/schema/Schemas$SensorReading$` → `graft.schema.Schemas$SensorReading`. */
  private def unitOf(internalName: String): String = {
    val slash = internalName.lastIndexOf('/')
    val simple = internalName.substring(slash + 1)
    val named = simple.indexOf("$$") match {
      case -1 => simple
      case i => simple.substring(0, i)
    }
    (internalName.substring(0, slash + 1) + named.stripSuffix("$"))
      .replace('/', '.')
  }

  /** The class re-written without its nesting attributes, so that its
    * constant pool holds only what the class itself uses.
    */
  private def withoutNesting(bytes: Array[Byte]): Array[Byte] = {
    val w = new ClassWriter(0)
    new ClassReader(bytes).accept(new ClassVisitor(Opcodes.ASM9, w) {
      override def visitInnerClass(
          name: String, outer: String, inner: String, access: Int): Unit = ()
      override def visitOuterClass(
          owner: String, name: String, desc: String): Unit = ()
      override def visitNestHost(host: String): Unit = ()
      override def visitNestMember(member: String): Unit = ()
    }, 0)
    w.toByteArray
  }

  private def utf8Entries(bytes: Array[Byte]): Seq[String] = {
    val r = new ClassReader(bytes)
    (1 until r.getItemCount).flatMap { i =>
      val at = r.getItem(i) // 0 for the slot after a long or double
      if (at > 0 && r.readByte(at - 1) == 1) // CONSTANT_Utf8
        Some(new DataInputStream(new ByteArrayInputStream(
          bytes, at, 2 + r.readUnsignedShort(at))).readUTF())
      else None
    }
  }

  /** Main classes among the slash-normalised identifier runs of `s`:
    * every prefix of a run that ends at a separator or at its end.
    */
  private def namedIn(s: String, mains: Set[String]): Iterator[String] =
    raw"[\w$$./]+".r.findAllIn(s).flatMap { run =>
      val norm = run.replace('.', '/')
      (1 to norm.length).iterator
        .filter(j => j == norm.length || norm.charAt(j) == '/')
        .flatMap { j =>
          // a descriptor's `L` sticks to the name: Lgraft/ext/Dedup;
          val p = norm.substring(0, j)
          Iterator(p, p.drop(1)).filter(mains)
        }
    }

  private lazy val classes: Seq[MainClass] = {
    val dir = Paths.get(
      SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(Files.isDirectory(dir), s"main classes are not a directory: $dir")
    val files: Seq[Path] = scala.util.Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala.filter(_.toString.endsWith(".class")).toSeq
    }
    val parsed = files.map { p =>
      val bytes = Files.readAllBytes(p)
      var source = "?"
      var hasMain = false
      val r = new ClassReader(bytes)
      r.accept(new ClassVisitor(Opcodes.ASM9) {
        override def visitSource(file: String, debug: String): Unit =
          source = file
        override def visitMethod(
            access: Int, name: String, desc: String, sig: String,
            exceptions: Array[String]) = {
          if (name == "main" && desc == "([Ljava/lang/String;)V" &&
            (access & Opcodes.ACC_STATIC) != 0) hasMain = true
          null
        }
      }, ClassReader.SKIP_CODE)
      (r.getClassName, source, hasMain, utf8Entries(withoutNesting(bytes)))
    }
    val mains = parsed.map(_._1).toSet
    parsed.map { case (name, source, hasMain, utf8) =>
      MainClass(unitOf(name), source,
        utf8.flatMap(namedIn(_, mains)).map(unitOf).toSet, hasMain)
    }
  }

  private def unreached: Set[String] = {
    val edges: Map[String, Set[String]] =
      classes.groupMapReduce(_.unit)(_.refs)(_ ++ _)
    assert(roots.subsetOf(edges.keySet),
      s"root(s) with no compiled class: ${roots -- edges.keySet}")
    var seen = roots
    var frontier = roots
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(edges) -- seen
      seen ++= frontier
    }
    edges.keySet -- seen
  }

  test("every main unit is reached from an entry point or allowlisted") {
    val missing = unreached
    val covered = missing.filter(u =>
      allowlist.keySet.exists(a => u == a || u.startsWith(a + "$")))
    val bySource = classes.groupMap(_.source)(_.unit).view.mapValues(_.toSet)
    val report = (missing -- covered).groupBy(u =>
      classes.find(_.unit == u).get.source).toSeq.sortBy(_._1).map {
      case (src, us) if us == bySource(src) => s"$src (whole file)"
      case (src, us) => s"$src: ${us.toSeq.sorted.mkString(", ")}"
    }
    if (report.nonEmpty) fail(
      s"${report.size} source(s) hold code no entry point reaches — " +
        s"delete it, or reach it from a root:\n  ${report.mkString("\n  ")}")
    val stale = allowlist.keySet -- missing
    assert(stale.isEmpty,
      s"allowlisted unit(s) now reached or gone: $stale — drop the entry")
  }

  test("a class named in generated Java text or in a descriptor is referenced") {
    val mains = Set("graft/functions/DetMath", "graft/ext/Dedup$")
    assert(namedIn(" = graft.functions.DetMath.lnqDouble(c);", mains).toSet ===
      Set("graft/functions/DetMath"))
    assert(namedIn("(Lgraft/ext/Dedup$;I)V", mains).toSet === Set("graft/ext/Dedup$"))
  }

  test("every main(String[]) is a declared root") {
    val undeclared = classes.filter(_.hasMain).map(_.unit).toSet -- roots
    assert(undeclared.isEmpty,
      s"main(s) not on the root list: $undeclared — declare them as roots")
  }
}

object ReachabilitySpec {
  private final case class MainClass(
      unit: String, source: String, refs: Set[String], hasMain: Boolean)
}
