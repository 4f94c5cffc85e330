package graft

/** Every main builds its session through [[LocalSession]] (the suites
  * keep their own pinned `local[4]` in [[SparkSpec]]), and every main
  * times the same [[LocalSession.checksum]] action. */
class LocalSessionSpec extends SparkSpec {
  import spark.implicits._

  test("SparkSession.builder appears in src/main only inside LocalSession") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val builders = sources(root)
      .filter(f => java.nio.file.Files.readString(f.toPath).contains("SparkSession.builder"))
      .map(f => root.toPath.relativize(f.toPath).toString)
    assert(builders === Seq("graft/LocalSession.scala"))
  }

  test("checksum covers every column, ignores row order, is 0 on empty input") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val c = LocalSession.checksum(df)
    assert(c === LocalSession.checksum(df.orderBy($"k".desc)))
    assert(c !== LocalSession.checksum(Seq((1L, "a"), (2L, "c")).toDF("k", "s")))
    assert(LocalSession.checksum(df.filter($"k" > 5)) === 0L)
  }
}
