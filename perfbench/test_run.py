"""Tests of the benchmark itself.

    python3 perfbench/test_run.py            # all, including two end-to-end runs
    python3 perfbench/test_run.py -k unit    # only the ones that start no JVM

The end-to-end tests build the program if needed and run the harness with
a corrupted job output, which must be counted as a failed job.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.WORK, "test")


def _scratch(name):
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _files(path):
    out = {}
    for f in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                out[os.path.relpath(f, path)] = fh.read()
    return out


class UnitTest(unittest.TestCase):

    def _job(self, i, phase="timed", ok=True, error=None):
        return {"job": i, "phase": phase, "traced": False, "wall_s": 1.0 + i,
                "cpu_s": 2.0, "ok": ok, "error": error}

    def test_unit_mismatched_or_raising_jobs_count_as_failed(self):
        colds = [{"setup": {"total_s": t}, "jobs": [dict(self._job(0, "cold", ok=ok), wall_s=w)]}
                 for t, w, ok in ((5.0, 0.5, True), (7.0, 3.0, False))]
        main = {"setup": {"total_s": 6.0}, "jobs": [
            self._job(0, "cold"), self._job(1, "warmup"),
            self._job(2, "warmup", ok=False, error="boom"), self._job(3),
            self._job(4, ok=False), self._job(5, ok=False, error="boom")]}
        s = run.summarize([main] + colds)
        self.assertEqual((s["attempted"], s["failed"], s["correct"]), (7, 4, False))
        self.assertEqual(s["metrics"]["setup_s"], 6.0)
        self.assertEqual(s["metrics"]["cold_job_s"], 0.5)

    def test_unit_all_good_jobs_are_correct(self):
        main = {"setup": {"total_s": 6.0},
                "jobs": [self._job(0, "cold")] + [self._job(i) for i in (1, 2)]}
        s = run.summarize([main])
        self.assertEqual((s["attempted"], s["failed"], s["correct"]), (3, 0, True))

    def test_unit_selfcheck_fails_on_a_shift_either_way_or_a_wide_spread(self):
        base = [1.0, 1.01, 0.99, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0, 1.0]
        self.assertTrue(run.compare(base, [x * 1.05 for x in base], 0.1)["ok"])
        self.assertFalse(run.compare(base, [x * 1.2 for x in base], 0.1)["ok"])
        self.assertFalse(run.compare(base, [x * 0.8 for x in base], 0.1)["ok"])
        wide = [0.7, 1.3, 0.7, 1.3, 1.0, 0.7, 1.3, 0.7, 1.3, 1.0]
        self.assertFalse(run.compare(base, wide, 0.1)["ok"])

    def test_unit_generators_are_deterministic_in_the_seed(self):
        text = {"files": 3, "file_bytes": 4096, "vocab": 500}
        kv = {"ops": 5000, "keys": 300, "files": 2}
        for workload, size in (("mr_wc_zipf", text), ("kv_cas_zipf", kv)):
            gen.generate(workload, 7, size, _scratch(f"{workload}-a"))
            gen.generate(workload, 7, size, _scratch(f"{workload}-b"))
            gen.generate(workload, 8, size, _scratch(f"{workload}-c"))
            a = _files(os.path.join(SCRATCH, f"{workload}-a"))
            self.assertEqual(a, _files(os.path.join(SCRATCH, f"{workload}-b")))
            self.assertNotEqual(a, _files(os.path.join(SCRATCH, f"{workload}-c")))

    def test_unit_kv_closed_form_equals_a_step_by_step_replay(self):
        out = _scratch("kv-replay")
        gen.generate("kv_cas_zipf", 3, {"ops": 20000, "keys": 500, "files": 3}, out)
        rows = pq.read_table(os.path.join(out, "data")).to_pylist()
        cells, counts = {}, {"OK": 0, "ErrMaybe": 0, "ErrVersion": 0, "ErrNoKey": 0}
        for op in sorted(rows, key=lambda r: r["seq"]):
            cell = cells.get(op["key"])  # (value, version, applied, rejected)
            if cell is None or cell[1] == 0:
                err = "OK" if op["version"] == 0 else "ErrNoKey"
            elif op["version"] == cell[1]:
                err = "OK"
            else:
                err = "ErrMaybe" if op["retried"] else "ErrVersion"
            value, version, applied, rejected = cell or ("", 0, 0, 0)
            if err == "OK":
                cells[op["key"]] = (op["value"], version + 1, applied + 1, rejected)
            else:
                cells[op["key"]] = (value, version, applied, rejected + 1)
            counts[err] += 1
        lines = (f"{k}\t{v}\t{ver}\t{a}\t{r}" for k, (v, ver, a, r) in cells.items())
        with open(os.path.join(out, "oracle.json")) as fh:
            oracle = json.load(fh)
        self.assertEqual(gen.line_digest(lines), {k: oracle[k] for k in ("lines", "sum")})
        self.assertEqual((oracle["applied"], oracle["maybe"], oracle["no_key"]),
                         (counts["OK"], counts["ErrMaybe"], counts["ErrNoKey"]))
        self.assertGreater(counts["ErrVersion"], 0)

    def test_unit_without_the_program_it_exits_nonzero(self):
        bare = _scratch("bare")
        shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "mr_wc_zipf",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=170)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)


class EndToEndTest(unittest.TestCase):

    def _corrupted(self, workload):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", workload, "--seed", "1", "--seconds", "1",
                            "--trace", "0", "--corrupt-job", str(run.WARMUP_JOBS + 1)],
                           cwd=run.ROOT, capture_output=True, text=True, timeout=900)
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertGreaterEqual(result["attempted"], 4)

    def test_corrupted_mapreduce_output_is_a_failed_job(self):
        self._corrupted("mr_wc_zipf")

    def test_corrupted_kv_output_is_a_failed_job(self):
        self._corrupted("kv_cas_zipf")


if __name__ == "__main__":
    unittest.main()
