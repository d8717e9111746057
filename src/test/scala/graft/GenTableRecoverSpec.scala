package graft

import graft.sources.{GenCommit, GenTable}

/** [[GenTable.recover]] sweeps what a crashed writer leaves outside the
  * generation protocol: the hidden temp files the `zbounds` record and
  * the log checkpoint are written through before their rename.
  */
class GenTableRecoverSpec extends SparkSuite {
  import spark.implicits._

  test("recover sweeps a killed writer's .zbounds.tmp_* and " +
      "logckpts/.tmp_* files; the zbounds record, the log checkpoint " +
      "and the table's rows are unchanged") {
    val dir = s"${TempRoots.create("graft_gt_sweep_")}/t"
    def upsert(k: Long) = GenTable.merge(spark, dir, "p",
      Seq((k, "A", k * 10.0, "upsert")).toDF("k", "p", "v", "_op"),
      Seq("k"), statsCols = Seq("v"), zorder = true)
    GenTable.init(Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0))
      .toDF("k", "p", "v"), dir, "p", statsCols = Seq("v"), zorder = true)
    // 16 committed generations cross the log-checkpoint cadence
    (0 until 15).foreach(i => upsert(100L + i))
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(sub: String): Map[String, String] = {
      val d = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      f.listStatus(d).filter(_.isFile).map(s =>
        s.getPath.getName -> GenCommit.readSmallFile(f, s.getPath)).toMap
    }
    def rows() = GenTable.read(spark, dir, "p").select("k", "p", "v")
      .collect().map(_.toString).toSet
    val zbounds = files("").filter(_._1 == "zbounds")
    val ckpts = files("logckpts")
    val before = rows()
    assert(zbounds.size == 1 && zbounds.head._2.startsWith("v\t"),
      s"fixture: no zbounds record: $zbounds")
    assert(ckpts.nonEmpty && ckpts.keys.forall(_.forall(_.isDigit)),
      s"fixture: no log checkpoint: $ckpts")
    // what writers killed between their create and their rename leave
    def plant(p: String, body: String): Unit = {
      val o = f.create(new org.apache.hadoop.fs.Path(p), true)
      try o.write(body.getBytes("UTF-8")) finally o.close()
    }
    plant(s"$dir/.zbounds.tmp_deadbeef0001", "v\t1.0,")
    plant(s"$dir/logckpts/.tmp_deadbeef0002", "0,1,2")
    GenTable.recover(spark, dir)
    assert(!files("").keys.exists(_.startsWith(".zbounds.tmp_")),
      "the zbounds temp file survived recover")
    assert(!files("logckpts").keys.exists(_.startsWith(".tmp_")),
      "the log checkpoint temp file survived recover")
    assert(files("").filter(_._1 == "zbounds") == zbounds)
    assert(files("logckpts") == ckpts)
    assert(rows() == before)
  }
}
