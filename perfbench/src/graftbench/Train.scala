package graftbench

import java.nio.file.{Files, Paths}

/** Class-loading pass for the build: one small deal tick and one small
  * operation per vector store, so the JVM's class-data archive holds the
  * classes every run loads. Measures nothing. */
object Train {
  def main(args: Array[String]): Unit = {
    val root = Paths.get("").toAbsolutePath
    val work = Main.buildDir(root).resolve(s"work/train-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val spark = Main.session(root, 2)
    try {
      val ctx = new Ctx(spark, root, work, 1L, 0.0, new Trace(spark, true), new Report)
      graft.Canary.cpuOnce(spark)
      val gen = new Gen(ctx.fixture, DealWorkloads.TailBase, 1)
      val rig = new DealRig(ctx, work.resolve("deals"), gen, 1L, faultShare = 0.0)
      rig.store.write(DealWorkloads.settled(DealWorkloads.replicatedDf(ctx, gen, 1)))
      val e = gen.base + gen.fx.span
      rig.log.append(gen.linesAt(e))
      rig.log.setHead(e + Gen.FinalityEpochs)
      val now = Gen.nowFor(e + Gen.FinalityEpochs)
      rig.observe(); rig.resolve(now); rig.submit(now)
      rig.close()
      VectorWorkload.train(ctx)
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
  }
}
