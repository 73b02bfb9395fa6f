#!/usr/bin/env bash
# Generate the README round-record block FROM the certification
# artifacts — never typed (VERDICT r9/r10: hand-typed records twice
# contradicted the committed artifact). Prints markdown on stdout;
# paste (or redirect) into README.md's round section.
#
#   tools/readme_record.sh <round> [bench.json]
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND=${1:?usage: readme_record.sh <round> [bench.json]}
BENCH=${2:-/tmp/graft_ci_bench.json}

[ -f CI_RECORD.txt ] || { echo "no CI_RECORD.txt" >&2; exit 1; }

echo "### Round $ROUND certification (generated by tools/readme_record.sh — do not edit)"
echo
echo '```'
cat CI_RECORD.txt
echo '```'
if [ -f "$BENCH" ]; then
  python3 - "$BENCH" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
q = {k: v for k, v in d["queries"].items() if v >= 0}
worst = sorted(q.items(), key=lambda kv: -kv[1])[:3]
prov = d.get("provenance", {})
print()
print(f"Bench ({d['sf']}, min-of-{d.get('repeat','?')}): "
      f"**{d['value']} s** over {len(q)} headline queries; "
      f"worst 3: " + ", ".join(f"{k} {v:.2f}s" for k, v in worst) + ".")
if prov:
    print(f"Provenance: loadavg {prov.get('loadavg_start','?')} -> "
          f"{prov.get('loadavg_end','?')}.")
EOF
fi
