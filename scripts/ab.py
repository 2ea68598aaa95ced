"""Interleaved A/B of two engine commits on one command.

    python scripts/ab.py --base REF --head REF --pairs N [--out FILE] \\
        [--higher FIELD ...] -- CMD ...

Each ref is exported with ``git archive`` into its own temp tree.  CMD
then runs ``2 * N`` times from the working copy, alternately with
``PYTHONPATH`` set to each tree; the arm that runs first switches every
pair, so a load wave on a shared box lands on both arms alike.  Because
CMD comes from the working copy, both arms run the same harness and
only the engine differs.  An argument of CMD containing ``{tree}`` is
expanded to the arm's tree, for a harness that finds the engine from
its own path (``python3 {tree}/perfbench/run.py ...``).

Run it from a directory that holds no ``streaming_spark`` package (an
empty temp dir, with absolute paths in CMD).  Spark starts the Python
worker daemon with ``python -m``, which puts the current directory first
on the daemon's and the workers' ``sys.path``; from the repo's root both
arms' workers would run the working copy's daemon and engine.

Every stdout line of CMD that parses as a JSON object is a record.  A
record is labelled by its ``case`` field, else by its position among
the run's records; nested objects are flattened to dotted names.  The
report has one row per (label, numeric field): the median of each arm,
in how many pairs the head beat the base (lower wins unless a dotted
component of the field's name is given to ``--higher``), and the
interquartile range of the base's runs.  Fields equal in every run are
listed once instead.  Non-numeric fields (digests) must be equal
across all runs of both arms; every difference is reported.  ``--out``
appends each run's records as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(ref: str, dest: str) -> None:
    os.makedirs(dest)
    archive = subprocess.Popen(
        ["git", "-C", REPO, "archive", ref], stdout=subprocess.PIPE
    )
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {ref} failed")


def flatten(obj: dict, prefix: str = "") -> dict:
    out = {}
    for k, v in obj.items():
        if isinstance(v, dict):
            out.update(flatten(v, f"{prefix}{k}."))
        else:
            out[prefix + k] = v
    return out


def run_arm(cmd: list[str], tree: str) -> dict[str, dict]:
    """One run of CMD against ``tree``: {label: flattened record}."""
    env = dict(os.environ, PYTHONPATH=tree)
    argv = [a.replace("{tree}", tree) for a in cmd]
    proc = subprocess.run(argv, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{argv} exited {proc.returncode} on {tree}")
    records: dict[str, dict] = {}
    for line in proc.stdout.splitlines():
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if isinstance(rec, dict):
            rec = flatten(rec)
            records[str(rec.pop("case", len(records)))] = rec
    return records


def is_number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def report(runs: list[tuple[dict, dict]], higher: list[str]) -> str:
    """``runs`` holds one (base, head) pair of run records per pair."""
    rows, constant, mismatched = [], [], []
    labels = list(dict.fromkeys(lab for b, h in runs for lab in (*b, *h)))
    for lab in labels:
        fields = list(dict.fromkeys(
            f for b, h in runs for f in (*b.get(lab, {}), *h.get(lab, {}))
        ))
        for f in fields:
            base = [b.get(lab, {}).get(f) for b, _ in runs]
            head = [h.get(lab, {}).get(f) for _, h in runs]
            if len({json.dumps(v) for v in base + head}) == 1:
                constant.append(f"{lab}.{f}={base[0]}")
            elif all(is_number(v) for v in base + head):
                up = any(x in f.split(".") for x in higher)
                wins = sum((hv > bv) if up else (hv < bv)
                           for bv, hv in zip(base, head))
                rows.append(
                    f"| {lab} | {f} | {statistics.median(base):.4g} | "
                    f"{statistics.median(head):.4g} | {wins}/{len(runs)} | "
                    f"{iqr(base):.4g} |"
                )
            else:
                mismatched.append(f"{lab}.{f}: base {base} head {head}")
    out = [
        "| case | field | base median | head median | head wins | base IQR |",
        "|---|---|---|---|---|---|",
        *rows,
        "",
        "equal in every run: " + (", ".join(constant) or "none"),
    ]
    if mismatched:
        out += ["", "DIFFERENT between runs (non-numeric):", *mismatched]
    return "\n".join(out)


def main(argv=None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    if "--" not in argv:
        raise SystemExit("usage: ab.py --base REF --head REF --pairs N -- CMD ...")
    split = argv.index("--")
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--base", required=True)
    p.add_argument("--head", required=True)
    p.add_argument("--pairs", type=int, default=3)
    p.add_argument("--out", help="append every run's records here (JSON lines)")
    p.add_argument("--higher", action="append", default=[],
                   help="field name component for which higher is better")
    args = p.parse_args(argv[:split])
    cmd = argv[split + 1:]

    work = tempfile.mkdtemp(prefix="ab_")
    try:
        trees = {arm: os.path.join(work, arm) for arm in ("base", "head")}
        for arm, tree in trees.items():
            export(getattr(args, arm), tree)
        runs = []
        for i in range(args.pairs):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            got = {}
            for arm in order:
                got[arm] = run_arm(cmd, trees[arm])
                line = {"pair": i, "arm": arm, "ref": getattr(args, arm),
                        "first": order[0], "records": got[arm]}
                print(json.dumps(line), file=sys.stderr, flush=True)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(line) + "\n")
            runs.append((got["base"], got["head"]))
        print(report(runs, args.higher))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
