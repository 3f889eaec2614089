#!/usr/bin/env bash
# A/B the benchmark of this checkout against another commit.
#
#   tools/perfbench_ab.sh <ref> <workload> <seed>...
#
# Exports <ref> with `git archive` into a temp dir and runs
# `perfbench/run.py` on it and on this checkout, one pair per seed, in
# alternating order (ref first on odd pairs, this checkout first on even
# ones), with the run length BENCHMARK.json sets. Before the pairs, each
# side makes one discarded warm-up run on the first seed, so pair 1 does
# not pay a cold machine (file cache, first build); the warm-up runs count
# in no median and no win. Then prints, per
# end-to-end metric, each side's median and quartiles, the parent's IQR
# (distance between its quartiles), the median ratio and the number of
# pairs the change won (ties count for neither side), and the failed calls
# per run. A gain holds when the change wins at least 9 of 10 pairs and
# the medians differ by more than the parent's IQR. Below that, per call
# name, each side's median over the runs of the run's median latency, read
# from `result.call_ms_by_name` of the artifact each run leaves under
# `.bench_build/results/` (every call of the run, warm-up pass included).
#
# Every run's JSON line, with its per-name medians, is kept in $AB_OUT
# (default: a file in the temp dir, printed at the end and removed with it
# unless AB_OUT is set).
set -euo pipefail
cd "$(dirname "$0")/.."
REF="${1:?usage: tools/perfbench_ab.sh <ref> <workload> <seed>...}"
WL="${2:?usage: tools/perfbench_ab.sh <ref> <workload> <seed>...}"
shift 2
[ $# -gt 0 ] || { echo "perfbench_ab: give at least one seed" >&2; exit 2; }
RUN_S=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')
BASE=$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX")
trap 'rm -rf "$BASE"' EXIT
git archive "$REF" | tar -x -C "$BASE"
OUT="${AB_OUT:-$BASE/runs.jsonl}"
: > "$OUT"

side_dir() { if [ "$1" = ref ]; then echo "$BASE"; else pwd; fi; }
run() { (cd "$(side_dir "$1")" && python3 perfbench/run.py --workload "$WL" \
  --seed "$2" --seconds "$RUN_S" --trace 0 | tail -n 1); }

for side in ref cur; do
  run "$side" "$1" > /dev/null
  echo "[ab] warm-up seed $1 $side done (discarded)" >&2
done

pair=0
for seed in "$@"; do
  pair=$((pair + 1))
  if (( pair % 2 == 1 )); then order="ref cur"; else order="cur ref"; fi
  for side in $order; do
    dir="$(side_dir "$side")"
    line=$(run "$side" "$seed")
    art=$(ls -t "$dir"/.bench_build/results/"$WL"-seed"$seed"-trace0-*.json | head -n 1)
    by_name=$(python3 -c 'import json, statistics, sys
calls = json.load(open(sys.argv[1]))["result"]["call_ms_by_name"]
print(json.dumps({k: statistics.median(v) for k, v in calls.items()}))' "$art")
    echo "{\"side\": \"$side\", \"seed\": $seed, \"run\": $line, \"call_ms_by_name\": $by_name}" >> "$OUT"
    echo "[ab] pair $pair seed $seed $side done" >&2
  done
done

python3 - "$OUT" "$REF" "$WL" <<'EOF'
import json, statistics, sys

path, ref, wl = sys.argv[1:]
runs = [json.loads(l) for l in open(path) if l.strip()]
bench = json.load(open("BENCHMARK.json"))
seeds = sorted({r["seed"] for r in runs})
by = {(r["side"], r["seed"]): r["run"] for r in runs}
by_name = {(r["side"], r["seed"]): r["call_ms_by_name"] for r in runs}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


print(f"workload {wl}: {ref} (parent) vs this checkout, {len(seeds)} pairs, seeds {seeds}, "
      f"after one discarded warm-up run per side")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(by[("ref", s)]["metrics"][name]["value"], by[("cur", s)]["metrics"][name]["value"])
             for s in seeds if ("ref", s) in by and ("cur", s) in by]
    if not pairs:
        continue
    a = [p for p, _ in pairs]
    b = [c for _, c in pairs]
    qa, qb = quartiles(a), quartiles(b)
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    gap = abs(qa[1] - qb[1])
    iqr = qa[2] - qa[0]
    print(f"  {name:20s} parent {qa[1]:10.2f} ({qa[0]:.2f}-{qa[2]:.2f})  "
          f"change {qb[1]:10.2f} ({qb[0]:.2f}-{qb[2]:.2f})  "
          f"parent/change {qa[1] / qb[1] if qb[1] else float('nan'):.3f}  "
          f"wins {wins}/{len(pairs)}  gap {gap:.2f} {'>' if gap > iqr else '<='} parent IQR {iqr:.2f}")
print("  per call name, median of the runs' medians (ms):")
for name in sorted({n for v in by_name.values() for n in v}):
    sides = [[by_name[(side, s)][name] for s in seeds if name in by_name.get((side, s), {})]
             for side in ("ref", "cur")]
    if not all(sides):
        continue
    (pa, pm, pb), (ca, cm, cb) = quartiles(sides[0]), quartiles(sides[1])
    print(f"    {name:28s} parent {pm:9.1f} ({pa:.1f}-{pb:.1f})  change {cm:9.1f} ({ca:.1f}-{cb:.1f})  "
          f"parent/change {pm / cm if cm else float('nan'):.3f}")
failed = {side: [by[(side, s)]["failed"] for s in seeds if (side, s) in by] for side in ("ref", "cur")}
print(f"  failed per run: parent {failed['ref']}  change {failed['cur']}")
EOF
[ -n "${AB_OUT:-}" ] || cat "$OUT"
