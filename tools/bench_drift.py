#!/usr/bin/env python3
"""Per-key bench-budget regression gate.

Compares a fresh bench JSON (the {"queries": {key: sec}} record
Bench.scala writes to bench_out.json and the driver stores as
BENCH_r{N}.json) against the committed prior-round baseline
(tools/bench_baseline.json, refreshed each round from the DRIVER
artifact, never from a best local pass). The baseline carries a
"_round" field naming the driver round it came from; the run being
gated is by definition round _round+1.

A key FAILS the gate when it regresses > 50% round-over-round AND the
new time is above the jitter floor (0.3 s — sub-300ms keys swing with
JVM/disk contention, not plan shape), CONFIRMED by the two-run
protocol: since r15, graft.Bench re-measures every key whose
full-board read exceeds the flag line (same JVM, end of board,
nothing else in flight) and records it under "queries_rerun" in
bench_out.json. When a rerun reading exists for a flagged key, the
key fails only if the RERUN also breaches (> 50% normalized over
baseline and above the jitter floor) — a full-board breach that
re-measures flat is attributed to board contention automatically
(printed as FLAP, exit 0), which is what r12/r13/r14 each spent
manual attribution effort on (three DISJOINT flat-in-isolation key
trios across four same-code runs). When NO rerun reading exists
(older artifact format, or the rerun itself errored), the legacy
criterion applies: the ABSOLUTE delta must also exceed the jitter
floor (noise is additive as well as multiplicative: a 0.27 -> 0.46 s
flap is scheduling jitter on any 32-thread box). The confirmed path
deliberately does NOT require the absolute-delta floor: a confirmed
0.31 -> 0.60 s regression is real plan drift, closing the
(0.3, 0.6] s blind band the floor opened. Unconfirmed-but-flagged
keys can still be excused by a LIVE tools/bench_allowlist.json
entry.

CONTENDED-RERUN-WINDOW classification (r16, closing the r15 residual
gap): a clean isolated rerun reads AT OR BELOW its full-board time —
it runs the same code with nothing else in flight. A rerun reading
SLOWER than the board read is therefore machine evidence the rerun
window itself was contended (the r15 driver board: seven untouched
keys re-read 1.2-2.1x their board times end-of-board), and such a
rerun cannot CONFIRM a regression. For those keys the gate consults
the SETTLE-PASS reading ("queries_rerun2": graft.Bench re-measures
every rerun key that read >= its board time once more, after the
rerun pass, behind a settle gap + GC): settle-pass breaches ->
CONFIRMED, settle-pass flat -> FLAP. With no settle-pass reading in
the artifact (older format), the key self-attributes as FLAP-SUSPECT
(exit 0, printed loudly) — the only isolated evidence is itself
contaminated, and a real regression resurfaces next board against an
un-inflated baseline. Allowlist entries take precedence over the
suspect dance: a documented intended trade is explained, not
re-litigated.

Allowlist entries are PER-ROUND EVIDENCE,
not permanent pardons: each is an object
    {"round": N, "note": "...", "value": <the measured seconds>}
and is live only when its round equals the round being gated
(baseline _round + 1). A stale or legacy (bare-string) entry does NOT
excuse anything — the key fails with "allowlist entry expired", so an
excuse written against one round's runs can never wave through the
next round's real regression (r13 lesson: a blanket contention note
written from the builder's closing runs waved q_bm25_ml through at
2.23x in the driver run).

IMPROVEMENTS over 50% (time more than halved, old time above the
jitter floor) are flagged for annotation the same way: a silent 13x
drop is indistinguishable from a silently-broken key (or an accounting
change like a prestage move) in a regression-only gate.

Ratios are MEDIAN-NORMALIZED before gating, with two guards:
  * the normalizer is CLAMPED at >= 1.0 — normalization exists to
    absorb whole-run inflation (JVM/disk contention lifting the board
    together); a FASTER-than-baseline board (r13 driver median 0.907)
    must not manufacture flags on raw-1.36x keys by dividing them up
    past the line;
  * the median itself is GATED: a shared-key median above 1.25x is
    outside the empirically observed contention band (same-code runs
    measured 1.04-1.18x) and would let a uniform board-wide real
    regression self-normalize away — it fails unless the allowlist
    carries a live "_median" entry explaining the run.

PASS-2 WARNINGS fail the gate. Bench runs every key twice and records
in the artifact's "warnings" map each key whose second pass errored
(a key that works once but not twice in one JVM is broken, whatever
its time). Any entry fails, whether or not the baseline artifact
carried it too — a grown map is named as such, so a new breakage is
told apart from a carried one, but neither passes.

Usage: python3 tools/bench_drift.py <new_bench.json> [<baseline.json>]
Exit 0 = clean (or explained), 1 = unexplained regression/improvement
or a pass-2 warning.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
JITTER_FLOOR_SEC = 0.3
REGRESSION_RATIO = 1.5
IMPROVEMENT_RATIO = 0.5
MEDIAN_BAND = 1.25


def load(path):
    with open(path) as f:
        return json.load(f)


def queries_of(data):
    qs = data.get("queries", data)
    return {k: v for k, v in qs.items() if not k.startswith("_")}


def maintenance_keys():
    """The SURVEY §2 bench family partition: the maintenance-keys list
    (one machine-parseable block after the 'Bench family partition'
    heading). Returns an empty set when SURVEY.md is absent (e.g. the
    self-test's temp-dir gate copy) — the split is then skipped."""
    survey = os.path.join(os.path.dirname(HERE), "SURVEY.md")
    if not os.path.exists(survey):
        return set()
    with open(survey) as f:
        text = f.read()
    i = text.find("maintenance-keys:")
    if i < 0:
        return set()
    # the list runs to the first blank line after the marker
    block = text[i + len("maintenance-keys:"):].split("\n\n", 1)[0]
    import re
    return set(re.findall(r"q_\w+", block))


def family_split_line(new):
    """serving/maintenance s-per-key summary from the SURVEY partition
    (r16 verdict task 5: the envelope is set on the serving family)."""
    maint = maintenance_keys()
    if not maint:
        return None
    m = {k: v for k, v in new.items() if k in maint}
    s = {k: v for k, v in new.items() if k not in maint}
    if not m or not s:
        return None
    return (f"family split: serving {len(s)} keys = "
            f"{sum(s.values()) / len(s):.3f} s/key; maintenance {len(m)} keys = "
            f"{sum(m.values()) / len(m):.3f} s/key (partition: SURVEY §2)")


def main():
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    new_data = load(sys.argv[1])
    new = queries_of(new_data)
    reruns = new_data.get("queries_rerun", {}) if isinstance(new_data, dict) else {}
    reruns2 = new_data.get("queries_rerun2", {}) if isinstance(new_data, dict) else {}
    # Presence of the FIELD (even empty) means the artifact's Bench ran a
    # settle pass over every suspect key; a suspect key missing from it
    # therefore means the settle-pass measurement itself ERRORED (Bench
    # drops errored keys from reruns2) — which cannot downgrade to
    # FLAP-SUSPECT, or a real regression whose settle re-measure crashes
    # would pass the gate for a round (r16 ADVICE-2).
    has_settle_pass = isinstance(new_data, dict) and "queries_rerun2" in new_data
    warnings = new_data.get("warnings", {}) if isinstance(new_data, dict) else {}
    base_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(HERE, "bench_baseline.json")
    base_data = load(base_path)
    base_warnings = base_data.get("warnings", {}) if isinstance(base_data, dict) else {}
    base = queries_of(base_data)
    base_round = base_data.get("_round")
    gated_round = base_round + 1 if base_round is not None else None
    allow_path = os.path.join(HERE, "bench_allowlist.json")
    allow = load(allow_path) if os.path.exists(allow_path) else {}

    def live_note(key):
        """The allowlist note for `key` if its entry is LIVE for the
        round being gated; None when absent/expired/legacy-format."""
        e = allow.get(key)
        if not isinstance(e, dict) or "round" not in e or "note" not in e:
            return None
        if gated_round is not None and e["round"] != gated_round:
            return None
        val = f" (measured {e['value']} s)" if "value" in e else ""
        return f"r{e['round']}{val}: {e['note']}"

    def expiry_of(key):
        e = allow.get(key)
        if e is None:
            return "no allowlist entry"
        if not isinstance(e, dict):
            return "allowlist entry expired (legacy bare-string format)"
        if "round" not in e or "note" not in e:
            return "allowlist entry malformed (needs round + note)"
        return (f"allowlist entry expired (written for r{e['round']}, "
                f"gating r{gated_round})")

    shared = [(k, base[k], new[k]) for k in sorted(new) if k in base and base[k] > 0]
    floor_ratios = sorted(n / b for _, b, n in shared
                          if b > JITTER_FLOOR_SEC and n > JITTER_FLOOR_SEC)
    med = floor_ratios[len(floor_ratios) // 2] if floor_ratios else 1.0
    norm_div = max(med, 1.0)  # never divide UP a fast board's ratios
    print(f"run median ratio (shared keys above jitter floor): {med:.3f}"
          f" — normalizer clamped to {norm_div:.3f}")
    split = family_split_line(new)
    if split:
        print(split)
    if base_round is not None:
        print(f"baseline round: r{base_round}; gating round: r{gated_round}")

    failures, explained, improved_ok, improved_bad, flaps = [], [], [], [], []
    flap_suspects = []

    if med > MEDIAN_BAND:
        note = live_note("_median")
        line = (f"_median: shared-key run median {med:.3f}x exceeds the "
                f"contention band ({MEDIAN_BAND}x) — a uniform board-wide "
                "regression cannot self-normalize away")
        if note:
            explained.append(f"{line} [allowlisted: {note}]")
        else:
            failures.append(f"{line} [{expiry_of('_median')}]")

    added = sorted(set(new) - set(base))
    for key, t_old, t_new in shared:
        ratio = t_new / t_old
        norm = ratio / norm_div
        board_breach = norm > REGRESSION_RATIO and t_new > JITTER_FLOOR_SEC
        if board_breach and key in reruns:
            # two-run confirmation: the isolated end-of-board reading
            # decides. Confirmed regressions flag on ratio alone (no
            # absolute-delta floor — that floor exists for single
            # contended readings, not for a reading that reproduced
            # with nothing else in flight).
            t_re = reruns[key]
            re_breach = ((t_re / t_old) / norm_div > REGRESSION_RATIO
                         and t_re > JITTER_FLOOR_SEC)
            line = (f"{key}: {t_old:.3f} -> {t_new:.3f} s board / "
                    f"{t_re:.3f} s isolated rerun ({ratio:.2f}x raw, "
                    f"{norm:.2f}x vs run median)")
            if not re_breach:
                flaps.append(f"{line} — rerun flat, attributed to "
                             "board contention")
            else:
                note = live_note(key)
                if note:
                    explained.append(f"{line} [allowlisted: {note}]")
                elif t_re >= t_new:
                    # Contended-rerun-window signature (r15 verdict
                    # task 3): a CLEAN isolated rerun — same code, same
                    # JVM, nothing else in flight — reads at or below
                    # its full-board time; a rerun reading SLOWER than
                    # the board read is machine evidence the rerun
                    # window itself was contended (the r15 driver board:
                    # seven untouched keys re-read 1.2-2.1x their board
                    # times), so it cannot CONFIRM. The settle-pass
                    # reading (queries_rerun2 — graft.Bench re-measures
                    # suspect keys after the rerun pass with a settle
                    # gap) decides instead when present.
                    if key in reruns2:
                        t_r2 = reruns2[key]
                        r2_breach = ((t_r2 / t_old) / norm_div > REGRESSION_RATIO
                                     and t_r2 > JITTER_FLOOR_SEC)
                        line2 = (f"{line} / {t_r2:.3f} s settle-pass")
                        if r2_breach:
                            failures.append(
                                f"{line2} [CONFIRMED by settle-pass "
                                f"(rerun window was contended); {expiry_of(key)}]")
                        else:
                            flaps.append(
                                f"{line2} — settle-pass flat, rerun window "
                                "contended; attributed to board contention")
                    elif has_settle_pass:
                        # The artifact format carries settle-pass
                        # readings, so this suspect key was re-measured
                        # and the measurement errored — treat as
                        # CONFIRMED, not suspect (the downgrade is
                        # reserved for artifacts with no settle pass
                        # at all).
                        failures.append(
                            f"{line} [CONFIRMED: rerun window contended "
                            "and the settle-pass re-measure ERRORED "
                            "(key absent from queries_rerun2); "
                            f"{expiry_of(key)}]")
                    else:
                        flap_suspects.append(
                            f"{line} — rerun read SLOWER than its board "
                            "time (physically implausible for a clean "
                            "isolated measure): the rerun window was "
                            "contended and cannot confirm; no settle-pass "
                            "reading in this artifact")
                else:
                    failures.append(
                        f"{line} [CONFIRMED by rerun; {expiry_of(key)}]")
        elif board_breach and (t_new - t_old) > JITTER_FLOOR_SEC:
            line = (f"{key}: {t_old:.3f} -> {t_new:.3f} s "
                    f"({ratio:.2f}x raw, {norm:.2f}x vs run median)")
            note = live_note(key)
            if note:
                explained.append(f"{line} [allowlisted: {note}]")
            else:
                failures.append(f"{line} [no rerun reading; {expiry_of(key)}]")
        elif (norm < IMPROVEMENT_RATIO and t_old > JITTER_FLOOR_SEC
                and (t_old - t_new) > JITTER_FLOOR_SEC):
            line = (f"{key}: {t_old:.3f} -> {t_new:.3f} s "
                    f"({ratio:.2f}x raw, {norm:.2f}x vs run median)")
            note = live_note(key)
            if note:
                improved_ok.append(f"{line} [annotated: {note}]")
            else:
                improved_bad.append(f"{line} [{expiry_of(key)}]")
    removed = sorted(set(base) - set(new))

    if added:
        print(f"new keys (no baseline yet): {len(added)}: {', '.join(added)}")
    if removed:
        print(f"keys gone from the bench: {', '.join(removed)}")
    for line in flaps:
        print(f"FLAP {line}")
    for line in flap_suspects:
        print(f"FLAP-SUSPECT {line}")
    for line in explained:
        print(f"EXPLAINED {line}")
    for line in improved_ok:
        print(f"improved (annotated) {line}")
    for line in improved_bad:
        print(f"IMPROVED-UNANNOTATED {line}")
    for line in failures:
        print(f"REGRESSED {line}")
    for key in sorted(warnings):
        seen = "also in the baseline" if key in base_warnings else "new since the baseline"
        print(f"PASS2-WARNING {key}: {warnings[key]} [{seen}]")
    if warnings:
        grown = len(set(warnings) - set(base_warnings))
        print(f"== {len(warnings)} pass-2 warnings ({grown} new since the baseline) — "
              "a key that fails its second pass is broken; fix it ==")
    if failures or improved_bad:
        print(f"== {len(failures)} unexplained >50% regressions, "
              f"{len(improved_bad)} unannotated >50% improvements — add a SURVEY "
              "note + a live tools/bench_allowlist.json entry "
              "{round, note, value}, or fix the plan ==")
    if failures or improved_bad or warnings:
        return 1
    print(f"== bench drift clean: {len(new)} keys vs baseline {len(base)} ==")
    return 0


if __name__ == "__main__":
    sys.exit(main())
