package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins `ScaleBench.buildScaledDir`'s fixture links: given a RELATIVE
  * sf path, every link must resolve (by absolute target). */
class ScaleBenchSpec extends SparkSpec {

  test("a relative sf dir gives links that all resolve") {
    val rel = Paths.get("").toAbsolutePath.relativize(Paths.get(sf).toAbsolutePath)
    assert(!rel.isAbsolute)
    val tmp = ScaleBench.buildScaledDir(spark, rel.toString, 2,
      Ephemeral.dataDir("graft-scale-"), tables = Set.empty)
    val listing = Files.list(tmp)
    val links = try listing.iterator().asScala.toList finally listing.close()
    assert(links.nonEmpty)
    links.foreach { l =>
      assert(Files.isSymbolicLink(l), s"$l is not a link")
      assert(Files.readSymbolicLink(l).isAbsolute, s"$l has a relative target")
      assert(Files.exists(l), s"$l dangles")
    }
  }
}
