package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The expression classes in `src/main` that may hand-write `doGenCode`.
  * Every other expression gets its generated code from Spark: a one-call
  * kernel is a `RuntimeReplaceable` over `StaticInvoke`, a per-group one a
  * `CodegenFallback`. A class with a hand-written `doGenCode` carries a
  * one-line `// Hand-written: <reason>` directly above the method, and a new
  * one is added to this list on purpose. Reads the sources as text; no
  * Spark session.
  */
class HandWrittenCodegenSpec extends AnyFunSuite {

  private val allowed = Set(
    "BroadcastBlob", "BroadcastBlobMap", "BlobProbe", // once-per-task blob, broadcasts
    "DuckDbHashExpr", "ZOrderKey", // variadic loops
    "NearestCentroid", "HyperplaneSignature", "PqEncode", "PqAdcE6") // objects by reference

  private val Decl = """^\s*(?:(?:final|sealed|abstract|private\S*|protected\S*)\s+)*(?:case\s+)?(?:class|object|trait)\s+(\w+).*""".r

  test("hand-written doGenCode: exactly the allowed classes, each with its reason line above") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // (enclosing class, "file:line", reason line directly above)
    val found = sources.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter(i => lines(i).contains("def doGenCode(")).map { i =>
        val owner = lines.take(i).reverseIterator.collectFirst { case Decl(name) => name }
        (owner.getOrElse("?"), s"$f:${i + 1}", i > 0 && lines(i - 1).trim.startsWith("// Hand-written: "))
      }
    }
    val unexpected = found.filterNot(c => allowed(c._1))
    assert(unexpected.isEmpty, "hand-written doGenCode outside the allowed classes: " +
      unexpected.map(c => s"${c._1} (${c._2})").mkString(", "))
    val unreasoned = found.filterNot(_._3)
    assert(unreasoned.isEmpty, "doGenCode without a `// Hand-written:` line directly above: " +
      unreasoned.map(_._2).mkString(", "))
    val owners = found.map(_._1)
    assert(owners.diff(owners.distinct).isEmpty, s"a class with two doGenCode: ${owners.mkString(", ")}")
    assert(owners.toSet == allowed,
      s"allowed classes without a doGenCode (drop them from the list): ${(allowed -- owners).mkString(", ")}")
  }
}
