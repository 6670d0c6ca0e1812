#!/usr/bin/env python3
"""List the spec-only default parameters of the library.

Usage: python3 scripts/spec_only_params.py [repo_root]

A default parameter of `src/main` is spec-only when `src/test` sets it (by
name, or positionally past its index) and no code under `src/main` or
`perfbench/src` does. Such a parameter is a mode that only tests reach: it
should be deleted with the branch it selects, or listed in ALLOWLIST below
with the reason it stays.

Prints one line per parameter (`owner.param  file:line  set by N spec
call(s)`) and exits 1 when any parameter outside the allowlist is found,
0 otherwise. The scan is lexical: comments and string literals are blanked,
calls are matched to definitions by name, and every definition sharing a
name counts, so an overloaded or widely shared name errs toward "used".
"""
import os
import re
import sys

# owner.param -> why it stays although only specs set it
ALLOWLIST = {
    # caps a spec lowers to reach the guard they bound; production runs
    # keep the default, which never binds at the sizes the queries use
    "RecordIterator.maxBuffer": "WARC record buffer cap; IoSpec lowers it to reach the oversize-record guard",
    "suffixArray.maxPositions": "suffix-array position cap; a spec lowers it to reach the cap guard",
    "longestRepeatSharded.maxPositions": "per-shard position cap; a spec lowers it to reach the cap guard",
    "topWordCounts.maxDictWords": "BPE dictionary handoff cap; a spec lowers it to show the bounded collect",
    "topBigramCounts.maxPairs": "char-LM bigram handoff cap; a spec lowers it to show the bounded collect",
    "minhashLshPairs.maxBucketSize": "LSH bucket-size cap; a spec lowers it to reach the oversize-bucket guard",
    "semDeDupLabels.fatCellRows": "k-means fat-cell threshold; a spec lowers it to reach the split path",
    "clusteringCoefficients.maxDeg": "degree cap; a spec lowers it to reach the hub guard",
    "longestRepeat.cap": "repeat-length cap; a spec lowers it to show the capped answer",
    "connectedComponents.maxIter": "round cap; GraphSpec lowers it to reach RoundCapExceededException",
    "connectedComponentsStar.maxIter": "round cap; GraphSpec lowers it to reach RoundCapExceededException",
    "boruvkaMst.maxRounds": "round cap; GraphSpec lowers it to reach RoundCapExceededException",
    "lubyMis.maxRounds": "round cap; GraphSpec sets 0 to pin the no-round answer",
    # sizes a spec shrinks so a hand-checked fixture reaches the behaviour
    "contaminationReport.n": "gram length; specs use short grams on few-word fixtures",
    "dupSpanReport.n": "gram length; specs use short grams on few-word fixtures",
    "removeDupSpans.n": "gram length; specs use short grams on few-word fixtures",
    "build.depth": "CMS sketch shape; OpsSpec narrows it to force collisions",
    "build.width": "CMS sketch shape; OpsSpec narrows it to force collisions",
    "estimate.depth": "CMS sketch shape; must match build's in the same spec",
    "estimate.width": "CMS sketch shape; must match build's in the same spec",
    "audioFrameFeatures.frameLen": "frame geometry; a spec uses a hand-computable frame",
    "audioFrameFeatures.hop": "frame geometry; a spec uses a hand-computable frame",
    "sampleContainerFrames.stride": "frame stride; a spec samples a short fixture video",
    "cosineNearDupBlocked.blocks": "block count; a spec splits a tiny fixture into several blocks",
    "exactQuantiles.buckets": "bucket count; a spec checks a hand-computed quantile set",
    "ivfTopK.nProbe": "probe width; a spec sweeps it to show recall rising with probes",
    "eraseDocs.nBuckets": "bucket count of a store; a spec erases from a store built with another count",
    "Config.nBuckets": "pretrain job config; a spec builds a store with a non-default bucket count",
    "Config.mixRates": "pretrain job config; specs keep every row of a one-source fixture",
    "encodeRgb.quality": "JPEG quality; a spec encodes at a fixed quality to bound the error",
    "encodeRgb420.quality": "JPEG quality; a spec encodes at a fixed quality to bound the error",
    "weightedSample.salt": "sampling salt; a spec shows a new salt draws a new sample",
    "containmentPairs.hashShingles": "hashed keys share intersectionCounts with jaccardPairs, which the queries run hashed",
    "RetryPolicy.intervalMillis": "stage retry policy; a spec retries without the default back-off",
    "RetryPolicy.maxRetries": "stage retry policy; a spec bounds the retries of a failing stage",
}

IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def scala_files(root, rel):
    base = os.path.join(root, rel)
    for d, _, fs in os.walk(base):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def blank(src):
    """Blank comments and string/char literals, keeping offsets and lines."""
    out = list(src)
    i, n = 0, len(src)

    def wipe(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            wipe(i, j)
            i = j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            wipe(i, j)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            wipe(i + 1, j - 1)
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            wipe(i + 1, j)
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            j = n if j < 0 else j
            wipe(i + 1, j)
            i = j + 1
        else:
            i += 1
    return "".join(out)


def close_of(s, i, open_ch="(", close_ch=")"):
    """Index just past the bracket group that opens at s[i]."""
    depth = 0
    for k in range(i, len(s)):
        if s[k] == open_ch:
            depth += 1
        elif s[k] == close_ch:
            depth -= 1
            if depth == 0:
                return k + 1
    return len(s)


def split_top(s):
    """Split an argument/parameter list body on its top-level commas."""
    parts, depth, cur = [], 0, []
    for c in s:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if "".join(cur).strip():
        parts.append("".join(cur))
    return parts


DEF_RE = re.compile(r"\b(?:def|class)\s+(" + IDENT + r")")
PARAM_RE = re.compile(r"^\s*(?:@\w+\s+)*(?:(?:private|protected|override|"
                      r"implicit|final|val|var)\s+)*(" + IDENT + r")\s*:"
                      r"[^=]*?=(?!>)")
NAMED_RE = re.compile(r"^\s*(" + IDENT + r")\s*=(?![=>])")


def definitions(files):
    """(owner, param, index, list_no, file, line) for each default param."""
    out = []
    for path, s in files:
        for m in DEF_RE.finditer(s):
            i = m.end()
            while i < len(s) and s[i].isspace():
                i += 1
            if i < len(s) and s[i] == "[":
                i = close_of(s, i, "[", "]")
            list_no = 0
            while True:
                while i < len(s) and s[i] in " \t\n":
                    i += 1
                if i >= len(s) or s[i] != "(":
                    break
                j = close_of(s, i)
                for idx, p in enumerate(split_top(s[i + 1:j - 1])):
                    pm = PARAM_RE.match(p)
                    if pm:
                        line = s.count("\n", 0, i) + 1
                        out.append((m.group(1), pm.group(1), idx, list_no,
                                    path, line))
                i, list_no = j, list_no + 1
    return out


CALL_RE = re.compile(r"(" + IDENT + r")\s*(?:\[[^\]\n]*\])?\s*\(")


def calls(files):
    """{(callee, list_no): [(positional_count, {named params})]}."""
    out = {}
    for _, s in files:
        for m in CALL_RE.finditer(s):
            name = m.group(1)
            if name in ("def", "class", "if", "while", "for", "match"):
                continue
            if re.search(r"\b(?:def|class)\s+$", s[max(0, m.start() - 12):m.start()]):
                continue
            i, list_no = m.end() - 1, 0
            while i < len(s) and s[i] == "(":
                j = close_of(s, i)
                pos, named = 0, set()
                for a in split_top(s[i + 1:j - 1]):
                    nm = NAMED_RE.match(a)
                    if nm:
                        named.add(nm.group(1))
                    else:
                        pos += 1
                out.setdefault((name, list_no), []).append((pos, named))
                i, list_no = j, list_no + 1
    return out


def sets(call_map, owner, param, idx, list_no):
    """Number of calls that set `param` of `owner`, by name or position."""
    return sum(1 for pos, named in call_map.get((owner, list_no), [])
               if param in named or pos > idx)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))

    def load(rel):
        return [(p, blank(open(p, encoding="utf-8").read()))
                for p in scala_files(root, rel)]

    main_files = load("src/main")
    prod_calls = calls(main_files + load("perfbench/src"))
    test_calls = calls(load("src/test"))
    hits = []
    for owner, param, idx, list_no, path, line in definitions(main_files):
        by_spec = sets(test_calls, owner, param, idx, list_no)
        if by_spec and not sets(prod_calls, owner, param, idx, list_no):
            hits.append((owner, param, os.path.relpath(path, root), line,
                         by_spec))
    bad = 0
    for owner, param, path, line, n in sorted(set(hits)):
        reason = ALLOWLIST.get(f"{owner}.{param}")
        tag = f"allowed: {reason}" if reason else "SPEC-ONLY"
        bad += reason is None
        print(f"{owner}.{param}  {path}:{line}  set by {n} spec call(s)  [{tag}]")
    print(f"{bad} spec-only parameter(s) outside the allowlist")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
