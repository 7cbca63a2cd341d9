"""Checks of the input generator, runnable without the JVM:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import filecmp
import json
import os
import tempfile
import unittest

import gen

WORKLOADS = ("ingest", "stream", "curate")


def key_sets(arch, tool):
    spec = arch["tools"][tool]
    params = spec.get("parameters") or {}
    frames = spec.get("frames") or {}
    required = set(gen.STANDARD) | {p for p, b in params.items() if b is None} | {
        f for f, fd in frames.items() if (fd or {}).get("required")}
    allowed = set(gen.STANDARD) | set(params) | set(frames)
    return required, allowed


def type_ok(ftype, value):
    try:
        parsed = json.loads(value)
    except ValueError:
        return ftype == "string"
    return {"list": isinstance(parsed, list), "object": isinstance(parsed, dict),
            "integer": isinstance(parsed, int) and not isinstance(parsed, bool),
            "number": isinstance(parsed, (int, float)) and not isinstance(parsed, bool),
            "boolean": isinstance(parsed, bool)}.get(ftype, True)


def is_valid(arch, rec):
    """The archetype's closed-world rules, as the program's validator
    applies them after filling default-bound parameters."""
    if rec["tool"] not in arch["tools"]:
        return False
    required, allowed = key_sets(arch, rec["tool"])
    params = arch["tools"][rec["tool"]].get("parameters") or {}
    keys = set(rec["args"]) | {p for p, b in params.items() if b is not None}
    frames = arch["tools"][rec["tool"]].get("frames") or {}
    types = all(type_ok((frames[k] or {}).get("type", "string"), v)
                for k, v in rec["args"].items() if k in frames)
    return required <= keys <= allowed and types


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        for w in WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(w, 5, 5, a)
                gen.generate(w, 5, 5, b)
                names = sorted(os.listdir(a))
                self.assertEqual(names, sorted(os.listdir(b)))
                _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), w)

    def test_another_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate("ingest", 5, 5, a)
            gen.generate("ingest", 6, 5, b)
            self.assertFalse(filecmp.cmp(os.path.join(a, "batch_000.jsonl"),
                                         os.path.join(b, "batch_000.jsonl"), shallow=False))

    def test_valid_and_invalid_calls_are_what_they_claim(self):
        arch = gen.load_archetype()
        recs, valid = gen.Generator(9, arch).calls(2000)
        self.assertEqual(valid.count(False), round(2000 * gen.INVALID_SHARE))
        for rec, ok in zip(recs, valid):
            self.assertEqual(is_valid(arch, rec), ok, rec)

    def test_archetype_uses_every_frame_type_and_a_default(self):
        arch = gen.load_archetype()
        types = {(fd or {}).get("type", "untyped") for t in arch["tools"].values()
                 for fd in (t.get("frames") or {}).values()}
        self.assertEqual(types, {"list", "string", "integer", "number", "boolean",
                                 "object", "untyped"})
        self.assertTrue(any(b is not None for t in arch["tools"].values()
                            for b in (t.get("parameters") or {}).values()))

    def test_repeats_and_sessions(self):
        arch = gen.load_archetype()
        recs, valid = gen.Generator(9, arch).calls(4000)
        good = [r["args"]["Content"] for r, ok in zip(recs, valid) if ok]
        repeats = len(good) - len(set(good))
        self.assertTrue(0.06 < repeats / len(good) < 0.14, repeats)
        sizes = {}
        for r in recs:
            sizes[r["session_id"]] = sizes.get(r["session_id"], 0) + 1
        # Zipf-skewed: most sessions are short, a few are long
        self.assertGreater(max(sizes.values()), 20 * sorted(sizes.values())[len(sizes) // 2])


if __name__ == "__main__":
    unittest.main()
