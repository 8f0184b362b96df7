package graft

/** The pin module's own contract: session pins build once per (session,
  * key), every build moves the counter the bench harness reads, artifact
  * writes follow the scale factor that owns the path, and frame pins
  * require a bound.
  */
class PinsSpec extends SparkSpec {

  test("a session pin builds once per (session, key); a new session builds its own") {
    val pin = Pins.session[String, Int]()
    var n = 0
    assert(pin.getOrBuild(spark, "k") { n += 1; 7 } == 7)
    assert(pin.getOrBuild(spark, "k") { n += 1; 8 } == 7)
    assert(n == 1)
    assert(pin.getOrBuild(spark, "k2") { n += 1; 9 } == 9 && n == 2)
    val s2 = spark.newSession()
    assert(pin.getOrBuild(s2, "k") { n += 1; 10 } == 10 && n == 3)
    assert(pin.getOrBuild(s2, "k") { n += 1; 11 } == 10 && n == 3)
    // each handle is its own key space
    assert(Pins.session[String, Int]().getOrBuild(spark, "k")(12) == 12)
  }

  test("the build counter moves exactly once per build") {
    val pin = Pins.session[Int, String]()
    val b0 = Pins.builds
    pin.getOrBuild(spark, 1)("a")
    assert(Pins.builds == b0 + 1)
    pin.getOrBuild(spark, 1)("b")
    assert(Pins.builds == b0 + 1, "a memo hit counted as a build")
    // a build that takes another pin counts both, and the nested build
    // runs outside the memo's locks
    val inner = Pins.session[Int, String]()
    assert(pin.getOrBuild(spark, 2)(inner.getOrBuild(spark, 2)("x") + "y") == "xy")
    assert(Pins.builds == b0 + 3)
    // a failed build counts nothing and is retried
    intercept[IllegalStateException](pin.getOrBuild(spark, 3)(throw new IllegalStateException))
    assert(Pins.builds == b0 + 3)
    assert(pin.getOrBuild(spark, 3)("z") == "z" && Pins.builds == b0 + 4)
    // an artifact write is a build too
    Pins.writeArtifact(spark, "sfA", "pins_spec_counter")(())
    Pins.writeArtifact(spark, "sfA", "pins_spec_counter")(())
    assert(Pins.builds == b0 + 5)
  }

  test("alternating two sfDirs re-writes an artifact") {
    var writes = 0
    def write(sf: String): Unit = Pins.writeArtifact(spark, sf, "pins_spec_alt")(writes += 1)
    write("sfA"); write("sfA")
    assert(writes == 1)
    write("sfB")
    assert(writes == 2)
    write("sfA") // sfB owns the path now: sfA's bytes are gone
    assert(writes == 3)
    write("sfA")
    assert(writes == 3)
  }

  test("cleanAll deletes registered artifacts and forces a re-write") {
    val path = Pins.artifact("pins_spec_clean")
    assert(path == s"${System.getProperty("java.io.tmpdir")}/graft_pins_spec_clean")
    var writes = 0
    def write(): Unit = Pins.writeArtifact(spark, "sfA", "pins_spec_clean") {
      writes += 1
      spark.range(3).write.mode("overwrite").parquet(path)
    }
    write(); write()
    assert(writes == 1 && new java.io.File(path).exists())
    Pins.cleanAll()
    assert(!new java.io.File(path).exists(), "cleanAll left the artifact dir")
    write()
    assert(writes == 2 && spark.read.parquet(path).count() == 3)
  }

  test("a frame pin rejects an empty bound") {
    intercept[IllegalArgumentException](Pins.frame(spark.range(3).toDF(), ""))
  }
}
