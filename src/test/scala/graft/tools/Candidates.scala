package graft.tools

import org.apache.spark.sql.SparkSession
import graft.api.Engine
import graft.eval.{Evaluation, ExternalEval, ReferenceSchemas, SchoolFixture}

/** Prints the ranked candidates of the 493 labelled questions, as
  * `Engine.ask` ranks them before it validates any
  * (`Engine.rankedCandidates`): a `== <id> <question>` line per question,
  * then a `<method>\t<confidence>\t<sql>` line per candidate, in rank order.
  * Ids are those of perfbench's `ask` workload: `pilot/<i>` on the TPC-H
  * fixture in SPARK_GRAFT_SF_DIR, `school/<i>` on `SchoolFixture`,
  * `ext/<case id>` on the reference's schemas. With ids as arguments it
  * prints only those. The output of two builds, run on the same day
  * (relative-date templates read today's date), diffs to show what a
  * template change did to generation.
  * Usage: SPARK_GRAFT_SF_DIR=<dir> sbt "Test/runMain graft.tools.Candidates [id...]" */
object Candidates {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a TPC-H fixture directory"))
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the reference schemas reuse TPC-H table names, so each gets its own catalog
    def isolated(register: SparkSession => Seq[String], fks: Seq[graft.core.FkEdge]): Engine = {
      val s = spark.newSession()
      new Engine(s, register(s), fks)
    }
    val engines = scala.collection.mutable.Map.empty[String, Engine]
    def engine(fixture: String): Engine = engines.getOrElseUpdate(fixture, fixture match {
      case "tpch" => Engine.forFixtures(spark, sfDir)
      case "school" => new Engine(spark, SchoolFixture.register(spark), SchoolFixture.fks)
      case "ext/school" => isolated(ReferenceSchemas.registerSchool, ReferenceSchemas.schoolFks)
      case "ext/store" => isolated(ReferenceSchemas.registerStore, ReferenceSchemas.storeFks)
      case "ext/travel" => isolated(ReferenceSchemas.registerTravel, ReferenceSchemas.travelFks)
    })
    val questions: Seq[(String, String, String)] =
      Evaluation.pilotCorpus.zipWithIndex.map { case (c, i) => (s"pilot/$i", c.question, "tpch") } ++
        Evaluation.schoolCorpus.zipWithIndex.map { case (c, i) => (s"school/$i", c.question, "school") } ++
        ExternalEval.cases.map(c => (s"ext/${c.id}", c.question, s"ext/${c.fixture}"))
    val unknown = args.toSet -- questions.map(_._1)
    require(unknown.isEmpty, s"no labelled question has id ${unknown.mkString(", ")}")
    for ((id, question, fixture) <- questions if args.isEmpty || args.contains(id)) {
      println(s"== $id $question")
      engine(fixture).rankedCandidates(question)._2.foreach { case (c, _) =>
        println(s"${c.method}\t${c.confidence}\t${c.sql}")
      }
    }
    spark.stop()
  }
}
