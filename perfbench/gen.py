"""Seeded input generators for the benchmark workloads.

Everything a run feeds the program is made here from (workload, seed):
build logs, the agent's call mix, and the bulk-import directories. Every
log is a fixture log of the repository's parser tests
(src/test/resources/logs) repeated back to back up to a target size, so
its format and diagnostic density are those of the fixture, and its
planted errors, warnings and events are the copies times the fixture's
measured counts (fixtures.json). The same (workload, seed) always gives
byte-identical files; nothing here reads the clock or the environment.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

import json
import math
import os
import random
import sys

# ---------------------------------------------------------------- logs

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(os.path.dirname(HERE), "src", "test", "resources",
                           "logs")


def _load_table():
    """The measured fixture table (fixtures.json, written by
    perfbench.Calibrate): name -> bytes, detected format, events, errors,
    warnings, and whether k back-to-back copies parse to k times the
    events."""
    with open(os.path.join(HERE, "fixtures.json")) as f:
        return {r["name"]: r for r in json.load(f)}


TABLE = _load_table()
# The corpus every log is drawn from: the fixtures whose copies parse
# additively and that yield events. Left out: JSON documents (a second
# copy is not JSON), summary-driven parsers (gtest, mocha, pytest) and
# the one fixture no parser claims.
CORPUS = tuple(sorted(n for n, r in TABLE.items()
                      if r["additive"] and r["events"] > 0))


def fixture_unit(name, fixture_dir=FIXTURE_DIR):
    """One copy of a fixture as a log repeats it: its text, newline-ended.
    Refuses a fixture whose size no longer matches the table, since the
    planted tallies come from the table."""
    with open(os.path.join(fixture_dir, name), encoding="utf-8") as f:
        text = f.read()
    if not text.endswith("\n"):
        text += "\n"
    if len(text.encode("utf-8")) != TABLE[name]["bytes"]:
        raise ValueError(f"fixture {name} changed since fixtures.json was "
                         "measured; re-run perfbench.Calibrate")
    return text


def expand(name, target_bytes, fixture_dir=FIXTURE_DIR):
    """A log of about `target_bytes`: back-to-back copies of one fixture.
    Returns (text, planted), where planted holds the copies and the
    events, errors and warnings they carry (copies x the fixture's)."""
    unit = fixture_unit(name, fixture_dir)
    k = max(1, round(target_bytes / len(unit.encode("utf-8"))))
    row = TABLE[name]
    planted = {"fixture": name, "format": row["format"], "copies": k}
    planted.update({c: k * row[c] for c in ("events", "errors", "warnings")})
    return unit * k, planted


def around(rng, nominal, spread=0.03):
    """Log-uniform within +-`spread` of `nominal`."""
    lo, hi = math.log(nominal * (1 - spread)), math.log(nominal * (1 + spread))
    return int(math.exp(rng.uniform(lo, hi)))


# ------------------------------------------------------------ workloads

DIR_FILES = 8
DIR_FILE = 8 << 10     # bytes per file of a bulk-import directory
STORE_RUNS = 30
SESSIONS = 12
SESSION_LOG = 24 << 10  # bytes: a typical build log

READS = ("errors", "events", "diff", "ci_check", "info", "query", "sql",
         "history")

FILTERS = ("severity=error", "severity=error,warning", "ref_file~src",
           "severity=warning;ref_file~.")

SQL = (
    "SELECT severity, count(*) AS n FROM blq_events GROUP BY severity "
    "ORDER BY severity",
    "SELECT ref_file, count(*) AS n FROM blq_events WHERE severity = 'error' "
    "GROUP BY ref_file ORDER BY n DESC, ref_file LIMIT 10",
    "SELECT tool_name, severity, count(*) AS n FROM blq_events "
    "GROUP BY tool_name, severity ORDER BY tool_name, severity",
)


def _read_args(rng, tool):
    """Arguments for one read call; `prev`/`cur` stand for the run
    serials of the previous and the just-imported run."""
    if tool in ("errors", "history"):
        return {"limit": str(rng.choice((5, 10, 20)))}
    if tool == "events":
        return {"ref": "~1", "limit": str(rng.choice((20, 50, 100)))}
    if tool == "diff":
        return {"run1": "prev", "run2": "cur"}
    if tool == "ci_check":
        return {"baseline": "prev", "candidate": "cur"}
    if tool == "info":
        return {"ref": "~1"}
    if tool == "query":
        return {"filter": rng.choice(FILTERS), "limit": str(rng.choice((20, 50)))}
    if tool == "sql":
        return {"q": rng.choice(SQL), "limit": "50"}
    raise ValueError(tool)


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def _log_file(out, rel, size, fixture, fixture_dir):
    text, planted = expand(fixture, size, fixture_dir)
    _write(os.path.join(out, rel), text)
    planted.update(path=rel, bytes=len(text.encode("utf-8")))
    return planted


def _import_dir(rng, out, rel, files, fixture_dir):
    """A directory of `files` ~8 KB logs for one bulk import, each from
    a fixture the seed picks."""
    return [_log_file(out, f"{rel}/part{i:02d}.log", around(rng, DIR_FILE),
                      fx, fixture_dir)
            for i, fx in enumerate(rng.sample(CORPUS, files))]


def _session(rng, out, rel, fixture, fixture_dir):
    """One "blq run, then ask" session: a fresh log to import, then each
    read tool once with seeded arguments. The order is fixed: the first
    loop session still runs warmer with every call, so a seeded order
    would move each call's cost from seed to seed."""
    log = _log_file(out, rel, around(rng, SESSION_LOG), fixture, fixture_dir)
    return {"import": log,
            "reads": [{"tool": t, "args": _read_args(rng, t)} for t in READS]}


def gen_store(out, fixture_dir=FIXTURE_DIR):
    """agent_session's prebuilt store: STORE_RUNS build logs, one per
    fixture in corpus order. It does not depend on the seed, so one
    built store serves every run of a build (see README)."""
    rng = random.Random("agent_session/store")
    runs = [_log_file(out, f"store/run{i:02d}.log", around(rng, SESSION_LOG),
                      CORPUS[i % len(CORPUS)], fixture_dir)
            for i in range(STORE_RUNS)]
    return {"store": runs, "log_bytes": sum(r["bytes"] for r in runs)}


def gen_agent_session(seed, out, fixture_dir=FIXTURE_DIR):
    rng = random.Random(f"agent_session/{seed}")
    # Session s imports the next fixture after the store's, whatever the
    # seed: the corpus spans 5-81 events per KB, so a seeded fixture
    # would move events/s 15x from seed to seed. The seed picks the log
    # sizes and the call arguments.
    picks = CORPUS[STORE_RUNS:STORE_RUNS + SESSIONS + 1]
    sessions = [_session(rng, out, f"session/s{s:02d}.log", picks[s],
                         fixture_dir) for s in range(SESSIONS)]
    # used only by the traced run's exec-layer pass
    extra = {"log": _log_file(out, "exec/single.log", around(rng, SESSION_LOG),
                              rng.choice(CORPUS), fixture_dir),
             "dir": _import_dir(rng, out, "exec/dir", DIR_FILES, fixture_dir),
             "glob": "exec/dir/*.log"}
    return {"workload": "agent_session", "seed": seed, "store_runs": STORE_RUNS,
            "warm": _session(rng, out, "warm/session.log", picks[SESSIONS],
                             fixture_dir),
            "sessions": sessions, "exec": extra}


# log_ingest: one cycle = one log from each size stratum (a log-spaced
# ladder from ~2 KB to ~2 MB, +-3 % seeded jitter), then one bulk import of
# DIR_FILES files. The seed picks the fixtures of the small log and of the
# directory files. The 64 KB and 2 MB logs take their fixture from a fixed
# rotation over common compiler and linter formats, by cycle index: the
# corpus spans 5-81 events per KB, so a seeded fixture for the large log
# would move events/s by up to 15x from seed to seed.
STRATA = (2 << 10, 64 << 10, 2 << 20)
ROTATION = ("gcc_errors.log", "eslint_output.txt", "mypy_output.txt",
            "cargo_build.log")
CYCLES = 2


def gen_log_ingest(seed, out, fixture_dir=FIXTURE_DIR):
    rng = random.Random(f"log_ingest/{seed}")
    ops = []
    for c in range(CYCLES):
        for k in range(len(STRATA)):
            fx = rng.choice(CORPUS) if k == 0 else \
                ROTATION[(c + k) % len(ROTATION)]
            ops.append({"kind": "import", "stratum": k,
                        "log": _log_file(out, f"c{c}/s{k}.log",
                                         around(rng, STRATA[k]), fx,
                                         fixture_dir)})
        ops.append({"kind": "import_dir",
                    "files": _import_dir(rng, out, f"c{c}/dir", DIR_FILES,
                                         fixture_dir),
                    "glob": f"c{c}/dir/*.log"})
    warm = {"log": _log_file(out, "warm/single.log", DIR_FILE,
                             rng.choice(CORPUS), fixture_dir),
            "dir": _import_dir(rng, out, "warm/dir", 2, fixture_dir),
            "glob": "warm/dir/*.log"}
    # used only by the traced run's api-layer pass over the ingested store
    ask = _session(rng, out, "ask/session.log", rng.choice(CORPUS), fixture_dir)
    return {"workload": "log_ingest", "seed": seed, "ops": ops,
            "cycle": len(STRATA) + 1, "warm": warm, "ask": ask}


GENERATORS = {"agent_session": gen_agent_session, "log_ingest": gen_log_ingest}


def generate(workload, seed, out, fixture_dir=FIXTURE_DIR):
    """Write the inputs for (workload, seed) under `out` and return the
    plan; the plan is also written to `out/plan.json`. The workload
    "store" is agent_session's seed-free prebuilt store."""
    plan = gen_store(out, fixture_dir) if workload == "store" else \
        GENERATORS[workload](seed, out, fixture_dir)
    _write(os.path.join(out, "plan.json"),
           json.dumps(plan, indent=1, sort_keys=True))
    return plan


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
