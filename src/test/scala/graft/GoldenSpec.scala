package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Cross-round drift guard: the committed fixtures/golden_<script>.tsv
  * files must be exactly reproduced by the live pipelines over the
  * committed corpus — one golden per scripted variant (script1, script2,
  * script3, script4, script5, reglogit), so the "script-equivalent
  * pipelines" claim is pinned for all of them. If Spark-version or
  * engine changes alter behavior, this fails loudly and the goldens are
  * consciously regenerated via `sbt "runMain graft.FixtureGen"`. */
class GoldenSpec extends SparkSpec {

  FixtureGen.goldenPipelines.foreach { case (name, mk) =>
    test(s"$name reproduces the committed golden predictions") {
      val file = Paths.get(FixtureGen.goldenFileFor(name))
      if (!Files.exists(file))
        fail(s"committed golden missing: $file — regenerate via sbt \"runMain graft.FixtureGen\" and commit it")
      val expected = Files.readAllLines(file).asScala
        .filter(_.nonEmpty)
        .map { l => val Array(n, p) = l.split("\t"); (n, p.toDouble) }.toSeq
      val (_, actual) = FixtureGen.goldenFit(spark, FixtureGen.CorpusDir, mk())
      assert(actual == expected)
    }
  }
}
