#!/usr/bin/env python3
"""Self-test for tools/bench_drift.py — exercises the two-run
confirmation protocol on synthetic artifacts (r14 verdict task 2:
"a synthetic flapped key attributes itself").

Run: python3 tools/test_bench_drift.py   (exit 0 = all scenarios pass)
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
GATE = os.path.join(HERE, "bench_drift.py")

# ten flat filler keys so the run median is 1.0 and never the story
FILLER = {f"q_filler_{i}": 0.8 for i in range(10)}


def run(base_qs, new_qs, reruns, allow=None, reruns2=None, warnings=None,
        base_warnings=None):
    with tempfile.TemporaryDirectory() as d:
        basep = os.path.join(d, "base.json")
        newp = os.path.join(d, "new.json")
        base = {"_round": 14, "queries": {**FILLER, **base_qs}}
        if base_warnings is not None:
            base["warnings"] = base_warnings
        json.dump(base, open(basep, "w"))
        # reruns2=None models the OLD artifact format (no settle-pass
        # field at all); a dict — even empty — models a Bench that ran
        # the settle pass, where a missing suspect key means its
        # re-measure errored.
        artifact = {"queries": {**FILLER, **new_qs},
                    "queries_rerun": reruns}
        if reruns2 is not None:
            artifact["queries_rerun2"] = reruns2
        if warnings is not None:
            artifact["warnings"] = warnings
        json.dump(artifact, open(newp, "w"))
        # the gate reads the allowlist from its own directory; run it
        # against a copy so the repo allowlist is never the fixture
        gate_dir = os.path.join(d, "tools")
        os.makedirs(gate_dir)
        with open(GATE) as f:
            gate_src = f.read()
        with open(os.path.join(gate_dir, "bench_drift.py"), "w") as f:
            f.write(gate_src)
        json.dump(allow or {}, open(os.path.join(gate_dir, "bench_allowlist.json"), "w"))
        p = subprocess.run(
            [sys.executable, os.path.join(gate_dir, "bench_drift.py"), newp, basep],
            capture_output=True, text=True)
        return p.returncode, p.stdout


def check(name, cond, out):
    if cond:
        print(f"ok   {name}")
    else:
        print(f"FAIL {name}\n--- gate output ---\n{out}")
        sys.exit(1)


# 1. A flapped key attributes itself: 2x on the board, flat isolated.
rc, out = run({"q_flap": 1.0}, {"q_flap": 2.0}, {"q_flap": 1.05})
check("flap self-attributes (exit 0, FLAP line)",
      rc == 0 and "FLAP q_flap" in out and "attributed to board contention" in out, out)

# 2. A confirmed regression still fails: 2x on the board AND isolated.
rc, out = run({"q_real": 1.0}, {"q_real": 2.0}, {"q_real": 1.95})
check("confirmed regression fails (exit 1, CONFIRMED)",
      rc == 1 and "CONFIRMED by rerun" in out, out)

# 3. Blind-band closure: 0.35 -> 0.62 s (delta 0.27 < the 0.3 s floor,
#    so the legacy path would wave it through) fails when the isolated
#    rerun reproduces it.
rc, out = run({"q_creep": 0.35}, {"q_creep": 0.62}, {"q_creep": 0.61})
check("confirmed sub-floor creep fails (blind band closed)",
      rc == 1 and "CONFIRMED by rerun" in out, out)

# 4. Same sub-floor creep with a FLAT rerun is a flap, not a failure.
rc, out = run({"q_creep": 0.35}, {"q_creep": 0.62}, {"q_creep": 0.36})
check("sub-floor creep with flat rerun is a flap",
      rc == 0 and "FLAP q_creep" in out, out)

# 5. No rerun reading -> legacy criterion (absolute floor) still gates.
rc, out = run({"q_legacy": 1.0}, {"q_legacy": 2.0}, {})
check("no-rerun regression fails via legacy path",
      rc == 1 and "no rerun reading" in out, out)

# 6. A LIVE allowlist entry excuses a confirmed regression...
allow = {"q_real": {"round": 15, "note": "intended trade", "value": 1.95}}
rc, out = run({"q_real": 1.0}, {"q_real": 2.0}, {"q_real": 1.95}, allow)
check("live allowlist entry excuses a confirmed key",
      rc == 0 and "EXPLAINED" in out, out)

# 7. ...but an EXPIRED one does not.
allow = {"q_real": {"round": 14, "note": "stale", "value": 1.95}}
rc, out = run({"q_real": 1.0}, {"q_real": 2.0}, {"q_real": 1.95}, allow)
check("expired allowlist entry does not excuse",
      rc == 1 and "expired" in out, out)

# 8. Contended rerun window (r15 residual gap): the "isolated" rerun
#    reads SLOWER than the board read — physically implausible for a
#    clean measure — and there is no settle-pass reading. The key
#    self-attributes as FLAP-SUSPECT instead of CONFIRMED (the exact
#    r15 driver signature: q_argmax 0.372 board / 0.787 rerun on
#    untouched code).
rc, out = run({"q_wind": 1.0}, {"q_wind": 2.0}, {"q_wind": 2.6})
check("rerun-slower-than-board self-attributes (exit 0, FLAP-SUSPECT)",
      rc == 0 and "FLAP-SUSPECT q_wind" in out
      and "rerun window was contended" in out, out)

# 9. Same signature WITH a settle-pass reading that is flat -> FLAP.
rc, out = run({"q_wind": 1.0}, {"q_wind": 2.0}, {"q_wind": 2.6},
              reruns2={"q_wind": 1.05})
check("suspect window + flat settle-pass is a flap",
      rc == 0 and "FLAP q_wind" in out and "settle-pass flat" in out, out)

# 10. Same signature with a settle-pass that REPRODUCES the breach ->
#     the regression is real and still fails (no gate evasion).
rc, out = run({"q_wind": 1.0}, {"q_wind": 2.0}, {"q_wind": 2.6},
              reruns2={"q_wind": 1.95})
check("suspect window + breaching settle-pass stays CONFIRMED",
      rc == 1 and "CONFIRMED by settle-pass" in out, out)

# 11. A live allowlist entry takes precedence over the suspect dance
#     (a documented intended trade is explained, not re-litigated).
allow = {"q_wind": {"round": 15, "note": "intended trade", "value": 2.0}}
rc, out = run({"q_wind": 1.0}, {"q_wind": 2.0}, {"q_wind": 2.6}, allow)
check("live allowlist entry beats FLAP-SUSPECT classification",
      rc == 0 and "EXPLAINED" in out, out)

# 12. Errored settle pass (r16 ADVICE-2): the artifact CARRIES a
#     queries_rerun2 field (Bench ran the settle pass) but the suspect
#     key is absent from it — Bench drops errored keys from reruns2 —
#     so the settle-pass was attempted and FAILED. That must be
#     CONFIRMED, not FLAP-SUSPECT, or a real regression whose settle
#     re-measure crashes passes the gate for a round.
rc, out = run({"q_wind": 1.0}, {"q_wind": 2.0}, {"q_wind": 2.6},
              reruns2={})
check("suspect window + errored settle-pass stays CONFIRMED",
      rc == 1 and "settle-pass re-measure ERRORED" in out, out)

# 13. Pass-2 warnings fail the gate even when every time is flat: the
#     round-18 artifact reported 0 errors while six keys failed their
#     second pass, and the gate passed it.
rc, out = run({"q_flat": 1.0}, {"q_flat": 1.0}, {},
              warnings={"q_flat": "pass2: SparkException: FILE_NOT_EXIST"})
check("a non-empty pass-2 warnings map fails",
      rc == 1 and "PASS2-WARNING q_flat" in out
      and "new since the baseline" in out, out)

# 14. A warnings map larger than the baseline's fails and names the
#     grown key as new.
rc, out = run({"q_a": 1.0, "q_b": 1.0}, {"q_a": 1.0, "q_b": 1.0}, {},
              warnings={"q_a": "pass2: x", "q_b": "pass2: y"},
              base_warnings={"q_a": "pass2: x"})
check("a grown pass-2 warnings map fails and names the new key",
      rc == 1 and "PASS2-WARNING q_b: pass2: y [new since the baseline]" in out
      and "(1 new since the baseline)" in out, out)

# 15. An empty warnings map gates as before.
rc, out = run({"q_flat": 1.0}, {"q_flat": 1.0}, {}, warnings={})
check("an empty pass-2 warnings map passes",
      rc == 0 and "PASS2-WARNING" not in out, out)

print("all bench_drift scenarios pass")
