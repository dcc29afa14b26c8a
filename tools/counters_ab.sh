#!/usr/bin/env bash
# Compare perfbench's exact counters (jobs, stages, job labels, files,
# versions, bytes) of the working tree with those of a git ref, on all
# four workloads:
#
#   tools/counters_ab.sh <ref>
#
# Extracts the committed files of <ref> into a fresh directory under
# ${TMPDIR:-/tmp}, writes their counter snapshot there with
# `perfbench/run.py counters --write`, then runs the working tree's
# counters `--against` that file, which prints an INCREASED line per
# grown counter and exits non-zero if there is one. Every other change,
# decreases included, is printed as a CHANGED line after it. The ref is
# taken with `git archive`, not as a git worktree, so a killed run
# leaves nothing registered in the repository. The snapshot file is
# kept and its path printed; the extracted tree is deleted on exit.
set -euo pipefail

ref=${1:?usage: tools/counters_ab.sh <ref>}
root=$(git rev-parse --show-toplevel)
sha=$(git -C "$root" rev-parse --verify "$ref^{commit}")
work=$(mktemp -d "${TMPDIR:-/tmp}/counters_ab.XXXXXX")
trap 'rm -rf "$work/tree"' EXIT

mkdir "$work/tree"
git -C "$root" archive "$sha" | tar -x -C "$work/tree"
base="$work/counters-${sha:0:12}.json"
new="$work/counters-worktree.json"
echo "counters_ab: snapshot of $ref ($sha) -> $base" >&2
(cd "$work/tree" && python3 perfbench/run.py counters --write "$base" >/dev/null)

echo "counters_ab: working tree against $base" >&2
rc=0
(cd "$root" && python3 perfbench/run.py counters --write "$new" --against "$base") || rc=$?

python3 - "$base" "$new" <<'EOF'
import json, sys
base, new = (json.load(open(p)) for p in sys.argv[1:3])
for w in sorted(set(base) | set(new)):
    b, n = base.get(w, {}), new.get(w, {})
    for k in sorted(set(b) | set(n)):
        if b.get(k) != n.get(k):
            print(f"CHANGED {w}: {k} {b.get(k)} -> {n.get(k)}")
EOF
echo "counters_ab: $ref snapshot kept at $base" >&2
exit $rc
