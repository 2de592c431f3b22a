package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the driver contract itself (SparkEntry). Scala `Map`
  * literals silently drop duplicate keys — a re-added query name
  * shadows (or is shadowed by) the original with no compiler warning,
  * which is exactly what happened transiently in round 8 with
  * `embedding_quantize`. The source scan below fails loudly instead.
  */
class ContractSpec extends AnyFunSuite {

  test("every oracle key has a query; no orphan oracles") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val orphans = o.diff(q)
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("no duplicate contract keys in the SparkEntry source") {
    // a name may appear at most twice at key position: once in
    // `queries`, once in `oracleSql`. A third occurrence means a
    // duplicate literal key that Scala's Map would swallow silently.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val keyPattern = """(?m)^    "([a-z0-9_]+)" ->""".r
    val counts = keyPattern.findAllMatchIn(src).map(_.group(1)).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val dups = counts.filter(_._2 > 2)
    assert(dups.isEmpty,
      s"contract keys at >2 key positions (duplicate map literal keys): $dups")
    // and each queries key is where it claims: the map sizes match the
    // distinct key counts seen at key position
    assert(counts.count(_._2 >= 1) >= SparkEntry.queries.size,
      "source scan found fewer key positions than the queries map holds")
  }

  test("unpersist is called only by the cache scope") {
    // every frame a call caches for itself is released by
    // graft.operators.Scoped on every exit path; a hand-written
    // unpersist elsewhere is the release a refusal skips
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val releasing = java.nio.file.Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("unpersist("))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(releasing == Seq("graft/operators/Scoped.scala"),
      s"unpersist( outside Scoped: $releasing")
  }

  test("cache() is called only by the cache scope") {
    // a frame cached outside graft.operators.Scoped has no owner to
    // release it, so a returned plan over it pins it for the session;
    // comment lines do not count
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val call = """\.cache\(\)|_\.cache\b""".r
    val caching = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !Seq("//", "/*", "*").exists(line.trim.startsWith) &&
              call.findFirstIn(line.replaceAll("//.*$", "")).isDefined =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }.toSeq.sorted
    assert(caching.forall(_.startsWith("graft/operators/Scoped.scala:")),
      s"cache() outside Scoped: $caching")
  }
}
