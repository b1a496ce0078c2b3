package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.etl.{Pipeline, PlatformSpecs}

/** The ETL lineage runs in whole-stage codegen: no expression of its
  * executed plan is `CodegenFallback` (one such expression keeps its whole
  * projection out of codegen, and evaluates interpreted row by row), every
  * projection, each platform's derivations included, sits inside a
  * `WholeStageCodegenExec`, and no stage falls back at run time. */
class EtlCodegenSpec extends SparkSpec with EtlFixtures with AdaptiveSparkPlanHelper {

  private def cianRaw = strDF(
    Seq("Object ID", "Price", "Area", "Rooms", "Address", "Deal Type"),
    Seq(Seq("901", "2500000", "33", "1", "Тула, Ленина 1", "sale")))

  /** Messages `WholeStageCodegenExec` logs while `body` runs, at INFO and
    * above: a stage whose generated method exceeds
    * `spark.sql.codegen.hugeMethodLimit`, or that fails to compile, runs
    * without codegen and says so only there. */
  private def codegenLog(body: => Unit): Seq[String] = {
    val name = classOf[WholeStageCodegenExec].getName
    val logger = LogManager.getLogger(name).asInstanceOf[CoreLogger]
    val level = logger.getLevel
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("etl-codegen-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    Configurator.setLevel(name, Level.INFO)
    logger.addAppender(appender)
    try body
    finally {
      logger.removeAppender(appender)
      Configurator.setLevel(name, level)
      appender.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  /** The nodes that run inside `stage`'s generated code. */
  private def fused(stage: WholeStageCodegenExec): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(walk)
    }
    walk(stage.child)
  }

  test("the unified lineage is whole-stage code-generated, with no CodegenFallback") {
    val unified = Pipeline.run(Map("domclick" -> domclickRaw, "yandex" -> yandexRaw,
      "avito" -> avitoRaw, "cian" -> cianRaw))
    var rows = 0L
    val log = codegenLog { rows = unified.collect().length.toLong }
    assert(rows == 6L)
    val plan = unified.queryExecution.executedPlan

    val fallbacks = collect(plan) { case p =>
      p.expressions.flatMap(_.collect {
        case e: CodegenFallback => s"${p.nodeName}: ${e.prettyName}"
      })
    }.flatten
    assert(fallbacks.isEmpty, s"CodegenFallback expressions:\n${fallbacks.mkString("\n")}\n$plan")

    val projects = collect(plan) { case p: ProjectExec => p }
    val inCodegen = collect(plan) { case s: WholeStageCodegenExec => fused(s) }.flatten
    val outside = projects.filterNot(p => inCodegen.exists(_ eq p))
    assert(outside.isEmpty, s"projections outside whole-stage codegen:\n$plan")
    // a platform's derivations are the projection that names its platform_id
    def derives(p: ProjectExec, id: Int): Boolean = p.projectList.exists {
      case Alias(Literal(v: Number, _), "platform_id") => v.intValue == id
      case _ => false
    }
    for (id <- PlatformSpecs.all.map(_.platformId))
      assert(projects.exists(derives(_, id)), s"no projection derives platform $id:\n$plan")

    val fellBack = log.filter(m =>
      m.contains("too long generated codes") || m.contains("Whole-stage codegen disabled"))
    assert(fellBack.isEmpty, fellBack.mkString("\n"))
  }
}
