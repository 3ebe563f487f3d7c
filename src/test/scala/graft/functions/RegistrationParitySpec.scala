package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}

import graft.{GraftSessions, SparkSpec}

/** The two ways a session gets graft's functions — the per-session
  * [[GraftFunctions.register]] call and the `GraftExtensions` injection
  * behind [[GraftSessions.withExtensions]] — bind the same table, so
  * they must expose the same names and reject a wrong arity the same
  * way. */
class RegistrationParitySpec extends SparkSpec {
  private lazy val routes: Seq[(String, SparkSession)] = Seq(
    "register" -> { GraftFunctions.register(spark); spark },
    "extensions" -> GraftSessions.withExtensions(spark))

  test("both routes resolve every graft function through the registry") {
    routes.foreach { case (route, s) =>
      val fr = s.sessionState.functionRegistry
      GraftFunctions.builders.foreach { case (id, _, _) =>
        assert(fr.lookupFunctionBuilder(id).isDefined,
          s"$route route does not resolve ${id.funcName}")
      }
    }
  }

  test("a wrong argument count raises WRONG_NUM_ARGS on both routes") {
    routes.foreach { case (route, s) =>
      val e = intercept[AnalysisException] {
        s.sql("SELECT graft_topk(1)").collect()
      }
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        s"$route: ${e.getMessage}")
    }
  }
}
