package graft.mr

import graft.SparkSpec

/** End-to-end JSON-spec job run (SURVEY.md §3 E1): the reference's own
  * spec shape + the shipped mapper.py/reducer.py over a small corpus,
  * validated with the reference validator's contract — concatenate all
  * part files, sort globally, compare (validate_output.py:10-29). */
class MRSpecSpec extends SparkSpec {
  test("MRSpec.run executes the reference spec shape end-to-end with R output files") {
    val dir = java.nio.file.Files.createTempDirectory("mrspec_in")
    java.nio.file.Files.write(dir.resolve("a.txt"),
      "the cat sat\nThe cat ran\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("b.txt"),
      "a dog sat twice, the end\n".getBytes("UTF-8"))
    val out = java.nio.file.Files.createTempDirectory("mrspec_out")

    val spec = MRSpec.fromJson(s"""{
      "UserID": "t", "JobID": 7,
      "InputFilesDir": "$dir", "OutputFilesDir": "$out",
      "NumMapTasks": 3, "NumReduceTasks": 2,
      "MapperFunc": "${TestCorpus.scripts}/mapper.py",
      "ReducerFunc": "${TestCorpus.scripts}/reducer.py",
      "Url": "http://ignored/mapreduce", "ContainerName": "ignored"
    }""")
    assert(spec.numReduceTasks === 2)

    val files = MRSpec.run(spark, spec)
    assert(files.size === 2, "one output file per reduce task")

    val merged = files.flatMap { f =>
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)),
        "UTF-8").linesIterator
    }.sorted
    val expected = Seq("a\t1", "cat\t2", "dog\t1", "end\t1", "ran\t1",
      "sat\t2", "the\t3", "twice\t1").sorted
    assert(merged === expected)

    // each part file is internally sorted (reference mr_worker.go:202)
    files.foreach { f =>
      val ls = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), "UTF-8").linesIterator.toSeq
      assert(ls === ls.sorted, s"$f not internally sorted")
    }
  }
}
