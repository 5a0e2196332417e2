package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, `Test / fork := true`). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** Asserts that `df`'s executed plan evaluates an expression of class
    * `cls` in a whole-stage-codegen'd Project, so its results came from
    * generated code. Inputs must come from an RDD: a local Seq is folded
    * into a LocalRelation by the interpreted ConvertToLocalRelation rule.
    */
  def assertCodegenProject(df: DataFrame, cls: Class[_]): Unit = {
    val plan = df.queryExecution.executedPlan
    val hit = plan.collect { case w: WholeStageCodegenExec => w.child }.exists {
      case p: ProjectExec => p.projectList.exists(_.find(cls.isInstance).isDefined)
      case _ => false
    }
    assert(hit, s"no WholeStageCodegen Project evaluates ${cls.getSimpleName}:\n$plan")
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session()
}
