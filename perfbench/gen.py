"""Seeded input generator for the graft pipeline benchmark.

Everything the program sees is written here, from the seed alone: tool-call
JSONL batches, the stream's scheduled files and its search request mix, and
a manifest of expected outputs the harness checks against. The same seed
gives byte-identical files (see test_gen.py).

Calls follow the benchmark's archetype (archetype.yaml): valid calls carry
exactly the tool's required keys plus a seeded subset of its allowed keys.
A known number of calls is invalid by construction, about a tenth repeat an
earlier call's Content exactly, a further twentieth repeat it with one word
changed, and session lengths are Zipf-skewed.
"""

import hashlib
import json
import os
import random
import shutil

import yaml

HERE = os.path.dirname(os.path.abspath(__file__))
STANDARD = ("Title", "Content", "Context")
T0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

INVALID_SHARE = 0.05
DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.05
TOOL_WEIGHTS = {"plan": 35, "act": 35, "observe": 20, "reflect": 10}
# One typed frame per tool that a bad-type reject corrupts.
TYPED_FRAME = {"plan": "budget", "act": "exit_code", "observe": "score",
               "reflect": "confidence"}

# Per-workload sizes. Batches, files and requests cycle if a run outlasts
# them, so the sizes bound memory, not run length.
SIZES = {
    "ingest": {"batch_calls": 800, "batches": 4},
    "stream": {"initial_calls": 200, "file_calls": 20, "period_ms": 250,
               "requests": 240},
    "curate": {"store_calls": 600},
}


def load_archetype(path=os.path.join(HERE, "archetype.yaml")):
    with open(path, encoding="utf-8") as f:
        return yaml.safe_load(f)


def _vocab(rng, n):
    cons, vows = "bdfgklmnprstvz", "aeiou"
    words = set()
    while len(words) < n:
        k = rng.randint(2, 4)
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(k)))
    return sorted(words)


def _fmt_ts(us):
    s, frac = divmod(us, 1_000_000)
    days, rem = divmod(s, 86400)
    h, rem = divmod(rem, 3600)
    m, sec = divmod(rem, 60)
    # 2026-01-01 plus `days` (runs stay well inside January)
    return f"2026-01-{1 + days:02d} {h:02d}:{m:02d}:{sec:02d}.{frac:06d}"


class Generator:
    def __init__(self, seed, archetype):
        self.rng = random.Random(seed)
        self.arch = archetype
        self.vocab = _vocab(self.rng, 3000)
        # Zipf weights over the vocabulary: a few words are very common
        self.cum = []
        acc = 0.0
        for i in range(len(self.vocab)):
            acc += 1.0 / (i + 1)
            self.cum.append(acc)
        self.next_id = 1
        self.next_session = 1
        self.t_us = T0_US

    def word(self):
        return self.rng.choices(self.vocab, cum_weights=self.cum)[0]

    def words(self, lo, hi):
        return [self.word() for _ in range(self.rng.randint(lo, hi))]

    def frame_value(self, ftype):
        r = self.rng
        if ftype == "list":
            return json.dumps(self.words(1, 3))
        if ftype == "integer":
            return str(r.randint(0, 500))
        if ftype == "number":
            return repr(round(r.uniform(0, 1), 3))
        if ftype == "boolean":
            return r.choice(["true", "false"])
        if ftype == "object":
            return json.dumps({self.word(): self.word() for _ in range(2)},
                              sort_keys=True)
        return " ".join(self.words(2, 6))

    def valid_args(self, tool, content):
        spec = self.arch["tools"][tool]
        r = self.rng
        args = {"Title": f"{tool} " + " ".join(self.words(2, 4)),
                "Content": content,
                "Context": " ".join(self.words(3, 5))}
        pool = self.arch["parameters"]
        for p, binding in (spec.get("parameters") or {}).items():
            # default-bound parameters are left out half of the time, so
            # the default fill-in has work to do
            if binding is None or r.random() < 0.5:
                args[p] = r.choice(pool[p]["examples"])
        for f, fd in (spec.get("frames") or {}).items():
            fd = fd or {}
            if fd.get("required") or r.random() < 0.6:
                args[f] = self.frame_value(fd.get("type", "string"))
        return args

    def corrupt(self, kind, tool, args):
        if kind == 0:
            return "delegate", args                  # unknown tool
        if kind == 1:
            args.pop("Title")                        # missing required key
        elif kind == 2:
            args["Mood"] = "curious"                 # closed-world violation
        else:
            args[TYPED_FRAME[tool]] = "not-a-number"  # frame type mismatch
        return tool, args

    def session_lengths(self, n):
        """Zipf-skewed session lengths summing to n."""
        out, left = [], n
        while left > 0:
            k = min(left, 150, int(self.rng.paretovariate(1.1)))
            out.append(max(1, k))
            left -= out[-1]
        return out

    def calls(self, n):
        """n calls in timestamp order, sessions interleaved. Returns the
        records and, per record, whether it is valid."""
        r = self.rng
        lens = self.session_lengths(n)
        sids = []
        for k in lens:
            sid = f"s{self.next_session:06d}"
            self.next_session += 1
            sids.extend([sid] * k)
        r.shuffle(sids)
        invalid = set(r.sample(range(n), round(n * INVALID_SHARE)))
        tools = list(TOOL_WEIGHTS)
        weights = [TOOL_WEIGHTS[t] for t in tools]
        contents = []  # earlier valid contents, for exact and near repeats
        recs, valid = [], []
        for i, sid in enumerate(sids):
            self.t_us += r.randint(1_000, 20_000)
            tool = r.choices(tools, weights=weights)[0]
            u = r.random()
            if contents and u < DUP_SHARE:
                content = r.choice(contents)
            elif contents and u < DUP_SHARE + NEAR_DUP_SHARE:
                ws = r.choice(contents).split(" ")
                ws[r.randrange(len(ws))] = self.word()
                content = " ".join(ws)
            else:
                content = " ".join(self.words(12, 40))
            args = self.valid_args(tool, content)
            ok = i not in invalid
            if not ok:
                tool, args = self.corrupt(len(recs) % 4, tool, args)
            else:
                contents.append(content)
            recs.append({"memory_id": str(self.next_id), "session_id": sid,
                         "tool": tool, "timestamp": _fmt_ts(self.t_us - T0_US),
                         "args": args})
            valid.append(ok)
            self.next_id += 1
        return recs, valid


def sequence(recs):
    """Expected (sequence_order, preceding_memory_id) per memory_id over the
    given records, ordered by timestamp within each session."""
    last, out = {}, {}
    for rec in sorted(recs, key=lambda x: (x["timestamp"], x["memory_id"])):
        seq, prev = last.get(rec["session_id"], (0, None))
        out[rec["memory_id"]] = (seq + 1, prev)
        last[rec["session_id"]] = (seq + 1, rec["memory_id"])
    return out


def digest(recs):
    """sha256 over 'id<TAB>session<TAB>seq<TAB>prev' lines sorted by numeric
    id — the harness computes the same digest over the stored rows."""
    seq = sequence(recs)
    h = hashlib.sha256()
    for rec in sorted(recs, key=lambda x: int(x["memory_id"])):
        s, p = seq[rec["memory_id"]]
        h.update(f"{rec['memory_id']}\t{rec['session_id']}\t{s}\t{p or ''}\n"
                 .encode())
    return h.hexdigest()


def batch_manifest(recs, valid):
    good = [r for r, ok in zip(recs, valid) if ok]
    return {"calls": len(recs), "valid": len(good),
            "invalid": len(recs) - len(good),
            "distinct_content": len({r["args"]["Content"] for r in good}),
            "digest": digest(good)}


def stream_record(rec):
    a = rec["args"]
    frames = {k: v for k, v in a.items() if k not in STANDARD}
    return {"memory_id": rec["memory_id"], "session_id": rec["session_id"],
            "tool": rec["tool"], "timestamp": rec["timestamp"],
            "value": float(len(a["Content"])),
            "props": json.dumps(frames, sort_keys=True)}


def write_jsonl(path, recs):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for rec in recs:
            f.write(json.dumps(rec, sort_keys=True, separators=(",", ":")))
            f.write("\n")


def stream_content(rec):
    """The document text the search client embeds at query time."""
    return f"Tool: {rec['tool']}\n{rec['props']}"


def search_requests(g, good, n):
    """Seeded SearchMemory request mix over stored stream calls: basic,
    filtered (every operator, on fields the stream store carries) and by-id
    requests, in the compact and summary views. The graph and full views
    are left out: their sequence attach persists the hit set, and Spark
    re-caches persisted plans over a path on every append to it, which
    races with the request in flight (see README.md)."""
    r = g.rng
    ts = sorted(x["timestamp"] for x in good)
    sessions = sorted({x["session_id"] for x in good})

    def iso(t):
        return t.replace(" ", "T")[:19] + "Z"

    filters = [
        lambda: [{"field": "tool", "operator": "is", "value": r.choice(list(TOOL_WEIGHTS))}],
        lambda: [{"field": "tool", "operator": "is_not", "value": "act"}],
        lambda: [{"field": "timestamp", "operator": "before",
                  "value": iso(ts[r.randrange(len(ts) // 4, len(ts))])}],
        lambda: [{"field": "timestamp", "operator": "after",
                  "value": iso(ts[r.randrange(0, 3 * len(ts) // 4)])}],
        lambda: [{"field": "sequence_order", "operator": "between",
                  "value": [1, r.randint(2, 8)]}],
        lambda: [{"field": "tool", "operator": "contains",
                  "value": r.choice(list(TOOL_WEIGHTS))}],
        lambda: [{"field": "session_id", "operator": "contains_substring",
                  "value": f"s{r.randint(0, 9)}"}],
        lambda: [{"field": "session_id", "operator": "any_of",
                  "value": r.sample(sessions, min(len(sessions), 40))},
                 {"field": "sequence_order", "operator": "after", "value": 1}],
    ]
    details = ["compact", "summary"]
    out = []
    for i in range(n):
        kind = ("basic", "filtered", "by_memory_id")[i % 3]
        req = {"id": i, "search_type": kind, "detail": details[i % 2],
               "limit": r.choice([3, 5, 10]),
               "score_threshold": r.choice([0.0, 0.4])}
        target = r.choice(good)
        if kind == "by_memory_id":
            req["query"] = target["memory_id"]
        else:
            req["query"] = stream_content(target)
        if kind == "filtered":
            req["filters"] = filters[(i // 3) % len(filters)]()
        out.append(req)
    return out


def generate(workload, seed, seconds, out_dir):
    """Write the inputs of one workload run under out_dir; return the
    manifest (also written as manifest.json)."""
    arch = load_archetype()
    g = Generator(seed, arch)
    size = SIZES[workload]
    os.makedirs(out_dir, exist_ok=True)
    shutil.copyfile(os.path.join(HERE, "archetype.yaml"),
                    os.path.join(out_dir, "archetype.yaml"))
    man = {"workload": workload, "seed": seed, "dims": 384}
    if workload == "ingest":
        man["batches"] = []
        for b in range(size["batches"]):
            recs, valid = g.calls(size["batch_calls"])
            name = f"batch_{b:03d}.jsonl"
            write_jsonl(os.path.join(out_dir, name), recs)
            man["batches"].append(dict(batch_manifest(recs, valid), file=name))
    elif workload == "curate":
        recs, valid = g.calls(size["store_calls"])
        write_jsonl(os.path.join(out_dir, "calls.jsonl"), recs)
        man["store"] = batch_manifest(recs, valid)
    elif workload == "stream":
        n_files = seconds * 1000 // size["period_ms"] + 2
        recs, valid = g.calls(size["initial_calls"] + n_files * size["file_calls"])
        good = [stream_record(x) for x, ok in zip(recs, valid) if ok]
        init, rest = good[:size["initial_calls"]], good[size["initial_calls"]:]
        write_jsonl(os.path.join(out_dir, "initial.jsonl"), init)
        fc = len(rest) // n_files
        man["period_ms"] = size["period_ms"]
        man["files"] = []
        for i in range(n_files):
            chunk = rest[i * fc:(i + 1) * fc]
            name = f"file_{i:03d}.jsonl"
            write_jsonl(os.path.join(out_dir, name), chunk)
            prefix = init + rest[:(i + 1) * fc]
            man["files"].append({"file": name, "calls": len(chunk),
                                 "digest": digest(prefix)})
        man["initial"] = {"calls": len(init), "digest": digest(init)}
        write_jsonl(os.path.join(out_dir, "requests.jsonl"),
                    search_requests(g, init, size["requests"]))
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(man, f, sort_keys=True, indent=1)
    return man
