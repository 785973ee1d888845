package graft

import org.scalatest.funsuite.AnyFunSuite

/** The vector family's shared steps each have one definition: the
  * float-array kernel, the SQL function registration, the bounded top-k
  * shell and the query batch.
  */
class VectorKitSurfaceSpec extends AnyFunSuite {

  test("the bounded top-k aggregator is built once, inside its Spark shell") {
    val built = MainSources.matches("""new (graft\.functions\.)?TopKByScore\(""")
    assert(built == Map("src/main/scala/graft/functions/TopKByScore.scala" -> 1), built)
  }

  test("every native SQL function registers through one injectFunction call") {
    val calls = MainSources.matches("""injectFunction\(""")
    assert(calls == Map("src/main/scala/graft/plans/GraftExtensions.scala" -> 1), calls)
  }

  test("one class under graft/plans holds the float-array loop") {
    val loops = MainSources.matches("""getFloat\b""").keySet
      .filter(_.startsWith("src/main/scala/graft/plans/"))
    assert(loops == Set("src/main/scala/graft/plans/FloatArrayKernel.scala"), loops)
  }

  test("the vec_id < n query batch is cut only inside its helper") {
    val similarity = "src/main/scala/graft/operators/Similarity.scala"
    val cut = """filter\(col\("vec_id"\) < """
    // PqIndex's cut seeds the codebooks from the first ksub subvectors;
    // it is no query batch
    assert(MainSources.matches(cut) ==
      Map(similarity -> 1, "src/main/scala/graft/api/PqIndex.scala" -> 1))
    val text = MainSources.all.collectFirst { case (p, t) if p.toString == similarity => t }.get
    val from = text.indexOf("def queryBatch(")
    val at = cut.r.findFirstMatchIn(text).get.start
    assert(0 <= from && from < at && at < text.indexOf("\n\n", from))
  }
}
