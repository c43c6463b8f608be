"""Specs of run.py's build cache: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import os
import subprocess
import tempfile
import unittest
from unittest import mock

import run


class BuildCacheSpec(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        classes = os.path.join(self.tmp.name, "classes")
        os.makedirs(classes)
        self.jar = os.path.join(self.tmp.name, "lib", "a.jar")
        os.makedirs(os.path.dirname(self.jar))
        open(self.jar, "w").close()
        self.cp = os.pathsep.join([classes, self.jar])
        self.builds = 0

        def fake_sbt(*args, **kwargs):
            self.builds += 1
            return subprocess.CompletedProcess(args, 0, stdout=f"[info] ok\n{self.cp}\n")

        patches = [mock.patch.object(run, "BUILD", os.path.join(self.tmp.name, "build")),
                   mock.patch.object(run.subprocess, "run", side_effect=fake_sbt)]
        for p in patches:
            p.start()
            self.addCleanup(p.stop)
        self.addCleanup(self.tmp.cleanup)

    def test_reuses_the_last_build_of_the_same_sources(self):
        self.assertEqual(run.classpath("a"), self.cp)
        self.assertEqual(run.classpath("a"), self.cp)
        self.assertEqual(self.builds, 1)

    def test_switching_back_to_earlier_sources_rebuilds(self):
        run.classpath("parent")
        run.classpath("change")
        run.classpath("parent")
        self.assertEqual(self.builds, 3)

    def test_a_changed_library_jar_rebuilds(self):
        run.classpath("a")
        with open(self.jar, "w") as f:
            f.write("new")
        run.classpath("a")
        self.assertEqual(self.builds, 2)

    def test_test_sources_are_part_of_the_stamp(self):
        tests = [p for p in run.source_files() if os.sep + "test" + os.sep in p]
        self.assertTrue(any(p.startswith(run.HERE) for p in tests))


if __name__ == "__main__":
    unittest.main()
