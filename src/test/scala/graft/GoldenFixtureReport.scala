package graft

import org.scalatest.{BeforeAndAfterAll, Outcome, TestSuite}
import java.nio.file.{Files, Path}

/** Makes a missing golden fixture visible instead of silent: golden
  * checks `assume` their fixture files, and a cancelled check is a
  * missing fixture, never a pass. After its last test the suite prints
  * one `GOLDEN-FIXTURES canceled: <test names> (missing <paths>)` line
  * when any of its tests cancelled. */
trait GoldenFixtureReport extends TestSuite with BeforeAndAfterAll {

  /** The fixture files the suite's golden checks read. */
  protected def goldenFiles: Seq[Path]

  private val canceled = scala.collection.mutable.ArrayBuffer.empty[String]

  override def withFixture(test: NoArgTest): Outcome = {
    val outcome = super.withFixture(test)
    if (outcome.isCanceled) canceled.synchronized(canceled += test.name)
    outcome
  }

  override def afterAll(): Unit =
    try {
      if (canceled.nonEmpty)
        println(s"GOLDEN-FIXTURES canceled: ${canceled.mkString("; ")} " +
          s"(missing ${goldenFiles.filterNot(Files.exists(_)).mkString(", ")})")
    } finally super.afterAll()
}
