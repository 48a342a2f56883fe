#!/usr/bin/env python3
"""Share of a benchmark op's JFR execution samples that hold a given frame.

    python3 tools/jfr_frames.py <recording.jfr> <spans.jsonl> <op> [class regex]

<recording.jfr> is a Java Flight Recording of one traced perfbench run
(start the run with JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=
settings=profile,filename=<recording.jfr>"); <spans.jsonl> is the span file
that run wrote (.perfbench/trace/<workload>-seed<seed>.jsonl). The script
keeps the jdk.ExecutionSample events inside the spans of <op> (all rounds)
and prints how many of them have a frame whose class name matches the regex
(default: Spark's Decimal and java.math.BigDecimal), with the top matching
methods. Needs the JDK's `jfr` tool on PATH.
"""
import collections
import datetime
import json
import re
import subprocess
import sys


def epoch_ms(ts: str) -> float:
    # 2026-10-20T03:12:01.123456789Z → drop digits past microseconds
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)$", ts)
    base, frac, tz = m.group(1), (m.group(2) or "0")[:6], m.group(3)
    tz = "+00:00" if tz == "Z" else tz
    t = datetime.datetime.fromisoformat(f"{base}.{frac.ljust(6, '0')}{tz}")
    return t.timestamp() * 1e3


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    jfr, spans_path, op = sys.argv[1:4]
    pattern = re.compile(sys.argv[4] if len(sys.argv) > 4 else r"(^|\.)(Decimal|BigDecimal)(\$|$)")
    with open(spans_path) as f:
        spans = [s for s in map(json.loads, f)
                 if s["kind"] == "op" and s["name"].split("#")[0] == op]
    if not spans:
        sys.exit(f"no op span named {op} in {spans_path}")
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ExecutionSample", jfr],
                         check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    total, hits, top = 0, 0, collections.Counter()
    for e in events:
        t = epoch_ms(e["values"]["startTime"])
        if not any(s["start_ms"] <= t <= s["end_ms"] for s in spans):
            continue
        total += 1
        frames = (e["values"].get("stackTrace") or {}).get("frames") or []
        names = [f"{fr['method']['type']['name'].replace('/', '.')}.{fr['method']['name']}" for fr in frames]
        matching = [n for n in names if pattern.search(n.rsplit(".", 1)[0])]
        if matching:
            hits += 1
            top[matching[0]] += 1
    share = 100.0 * hits / total if total else 0.0
    print(json.dumps({"op": op, "samples": total, "matching": hits, "share_pct": round(share, 1),
                      "top": top.most_common(5)}))


if __name__ == "__main__":
    main()
