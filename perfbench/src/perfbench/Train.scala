package perfbench

/** Training run of the build's class-data-sharing archive
  * (`build.py`): `Train --work DIR`. It starts a session and runs a few
  * small jobs (generate, write and read parquet, aggregate), so the
  * classes every benchmark run loads at start-up are loaded here and
  * archived. It measures and checks nothing. */
object Train {
  def main(args: Array[String]): Unit = {
    val work = args.grouped(2).collect { case Array("--work", v) => v }.next()
    val code = try {
      val spark = Main.session("train", work)
      val gen = new Gen(spark, 42L)
      gen.write(gen.events(1000, 100), work, "events")
      spark.read.parquet(s"$work/events.parquet").groupBy("event_type").count().collect()
      Main.calibSec(spark)
      spark.stop()
      0
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }
}
