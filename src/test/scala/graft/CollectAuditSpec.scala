package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Bounded-collect census — the driver-state counterpart of
  * [[PlanAuditSpec]]'s single-partition shape census.
  *
  * The repo's discipline is "every driver collect is bounded, with the
  * bound stated where the collect happens". This spec makes that
  * enforceable the way plan shapes are: it walks `src/main` for every
  * `.collect()` / `.collectAsList` / `.toLocalIterator` site and
  * asserts the per-file site counts match this annotated allowlist
  * EXACTLY — a new unbounded (or bounded-but-undocumented) collect
  * fails the suite like an unbounded global window does, and a removed
  * site fails too so the census can never go stale. Each entry carries
  * the bound that licenses it; when adding a site, state its bound
  * here AND in a comment at the site.
  */
class CollectAuditSpec extends AnyFunSuite {

  /** relative path under src/main/scala → (site count, stated bound). */
  private val allowlist: Map[String, (Int, String)] = Map(
    "graft/plans/Prefix.scala" -> (1,
      "one k-long partial-sum array PER PARTITION (k = #prefix " +
        "columns) — #partitions rows, never data rows"),
    "graft/sink/Sinks.scala" -> (3,
      "toLocalIterator STREAMS one file's rows/aggregates into JDBC " +
        "batches inside the per-file txn — iterator pull, one " +
        "partition resident at a time, never a materialized array"),
    "graft/ext/Dedup.scala" -> (2,
      "gridSelfJoin hot-cell gate: <= n/gridThreshold key tuples " +
        "(each hot cell holds >= gridThreshold rows by definition) — " +
        "resolved driver-side so cold corpora keep the plain join plan; " +
        "bloomPrefilteredIncremental: ONE row (the merged bloom sketch " +
        "from a full BloomFilterAggregate) — the probe inlines it as a " +
        "foldable literal, might_contain's analysis contract"),
    "graft/ext/Sampling.scala" -> (2,
      "strata table bounded by contract (temperature weights over " +
        "sources, driver-side DetMath) + a single-row capped-" +
        "allocation residual sum"),
    "graft/ext/Similarity.scala" -> (1,
      "nlist IVF centroid rows (limit(nlist))"),
    "graft/ext/Embeddings.scala" -> (4,
      "k-means driver state: limit(1) seed + limit(1) per farthest-" +
        "point round (k rounds), limit(k) hash-spread init, k-row " +
        "Lloyd cluster-state aggregate per iteration — all k-bounded"),
    "graft/ext/Bpe.scala" -> (1,
      "limit(1) best-pair row per BPE merge round"),
    "graft/ext/Drift.scala" -> (1,
      "boundedCollect: limit(maxGridCells+1) with a loud require — " +
        "the bin-universe bound is ENFORCED, not assumed"),
    "graft/ext/Vocab.scala" -> (1,
      "limit(fbTerms) RM3 expansion terms"),
    "graft/stream/Ingest.scala" -> (1,
      "one verdict row per file in the micro-batch — driver-side " +
        "routing decisions are per-file by design"),
    "graft/PlanAudit.scala" -> (1,
      "dev CLI only (GRAFT_EXPLAIN_RUN=1 materializes a query to " +
        "print its ADAPTIVE plan) — never a library code path"))

  private val collectRe =
    raw"\.collect\(\)|\.collectAsList\(|\.toLocalIterator\(".r

  /** Cuts the line at the first `//` that is OUTSIDE a string
    * literal — a plain `indexOf("//")` would let a collect site hide
    * behind a URL in a log/string on the same line (`"s3a://…"`) and
    * silently evade the census. Three states are tracked within the
    * line: plain `"…"` (with `\"` escapes), triple-quoted `"""…"""`
    * (a lone `"` inside must NOT flip the plain-string state — it
    * previously did, so a later real `//` in string content cut the
    * line early and a same-line collect site could evade the census),
    * and the `'"'` char literal (skipped whole). A triple-quoted
    * string whose body SPANS lines still scans its interior lines in
    * the normal state — that direction only OVER-counts (a `.collect()`
    * mention inside multi-line string content trips the census
    * loudly), never hides a site.
    */
  private[graft] def stripLineComment(line: String): String = {
    var inStr = false
    var inTriple = false
    var i = 0
    def at(j: Int, s: String): Boolean = line.startsWith(s, j)
    while (i < line.length) {
      val c = line.charAt(i)
      if (inTriple) {
        if (at(i, "\"\"\"")) {
          // Consume trailing extra quotes too: `""""` closes with the
          // last three ambiguous — Scala binds extras to the CONTENT,
          // so skip forward to the final quote of the run.
          var j = i + 3
          while (j < line.length && line.charAt(j) == '"') j += 1
          i = j - 1
          inTriple = false
        }
      } else if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else if (at(i, "\"\"\"")) { inTriple = true; i += 2 }
      else if (c == '"') inStr = true
      else if (c == '\'' && i + 2 < line.length && line.charAt(i + 2) == '\''
          && line.charAt(i + 1) != '\\') i += 2 // char literal, incl. '"'
      // 4-char ESCAPED char literal ('\"', '\\', '\n', …): the 3-char
      // rule above deliberately excludes charAt(i+1)=='\\', so without
      // this arm the inner quote of '\"' would flip the plain-string
      // state and invert quote tracking for the rest of the line — the
      // same failure class the triple-quote fix closed for '"'.
      else if (c == '\'' && i + 3 < line.length && line.charAt(i + 1) == '\\'
          && line.charAt(i + 3) == '\'') i += 3 // escaped char literal
      else if (c == '/' && i + 1 < line.length && line.charAt(i + 1) == '/')
        return line.substring(0, i)
      i += 1
    }
    line
  }

  test("stripLineComment: string states cannot hide or invent a collect site") {
    // plain string: a // inside a URL must not cut the line
    assert(stripLineComment("""log("s3a://bucket"); x.collect()""")
      .contains(".collect()"))
    // real comment cut
    assert(!stripLineComment("""val n = 1 // was .collect()""")
      .contains(".collect()"))
    // the ADVICE case: a LONE " inside a same-line triple-quoted string
    // used to flip the plain-string state, so the later // (real
    // comment) was treated as string content on the flipped state's
    // view — and with the states inverted a later collect could hide.
    // After the fix the " is triple-string content, the // is a real
    // comment, and a collect BEFORE it still counts:
    val tripled = "val s = \"\"\"quote \" inside\"\"\"; df.collect() // note"
    assert(stripLineComment(tripled).contains(".collect()"))
    assert(!stripLineComment(tripled).contains("note"))
    // char literal '"' must not open a string
    assert(!stripLineComment("""val q = '"' // .collect()""")
      .contains(".collect()"))
    // escaped quote inside a plain string stays inside it
    assert(stripLineComment("""val s = "a\"//b"; y.collect()""")
      .contains(".collect()"))
    // ESCAPED char literal '\"' must not flip the string state: its
    // inner quote previously opened a phantom string, so the real //
    // read as string content and a trailing collect could (inverted
    // case) be cut or (this case) a commented one counted.
    val escLit = "val q = '\\\"'; z.collect() // was .collect()"
    assert(stripLineComment(escLit).contains("z.collect()"))
    assert(!stripLineComment(escLit).contains("was .collect()"))
    // '\\' (escaped backslash literal) likewise
    assert(!stripLineComment("val b = '\\\\' // .collect()")
      .contains(".collect()"))
  }

  test("every driver-collect site is on the annotated bounded allowlist") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not run from the repo root? $root")
    // Files.walk streams hold open directory handles — close them.
    val files: Seq[Path] = scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(p => p.toString.endsWith(".scala")).toSeq
    }
    val census: Map[String, Int] = files.flatMap { p =>
      val n = Files.readString(p).linesIterator
        .map(stripLineComment)
        .map(l => collectRe.findAllIn(l).size)
        .sum
      if (n == 0) None
      else Some(root.relativize(p).toString -> n)
    }.toMap
    val extra = census.keySet -- allowlist.keySet
    val stale = allowlist.keySet -- census.keySet
    assert(extra.isEmpty,
      s"NEW collect site(s) outside the census: ${extra.toSeq.sorted
        .map(f => s"$f(${census(f)})").mkString(", ")} — state the bound " +
        "at the site and add an annotated allowlist entry here")
    assert(stale.isEmpty,
      s"STALE allowlist entr(ies) with no collect left: $stale — remove " +
        "them so the census stays exact")
    val drifted = census.filter { case (f, n) => allowlist(f)._1 != n }
    assert(drifted.isEmpty,
      drifted.map { case (f, n) =>
        s"$f has $n collect site(s), allowlist says ${allowlist(f)._1}"
      }.mkString("; ") + " — re-annotate the census")
  }
}
