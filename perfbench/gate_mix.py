#!/usr/bin/env python3
"""Count the query shapes of the repository's kql_* gates.

    python3 perfbench/gate_mix.py

The serve_mixed workload sends four kinds of plain request. Their shares
(ServeMixed.Mix) are these counts, taken over the KQL texts in
src/main/scala/graft/queries/KqlQueries.scala. Each text gets the first
kind whose rule it meets:

    join   the text has a join
    top    the text has a `| top` operator
    bin    the text summarizes by bin()
    point  the text filters with `| where` and does not summarize

Texts that meet no rule are counted as `other` and are not in the mix.
The gates are the repository's record of the query shapes it serves, not
observed traffic, so the mix is an assumption drawn from them.
"""
import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE = os.path.join(os.path.dirname(HERE), "src", "main", "scala", "graft",
                      "queries", "KqlQueries.scala")
GATE = re.compile(r'kq\("(kql_\w+)",\s*(?:"""(.*?)"""|"((?:[^"\\]|\\.)*)")', re.S)


def kind(text):
    if re.search(r"\bjoin\b", text):
        return "join"
    if re.search(r"\|\s*top\b", text):
        return "top"
    if "summarize" in text and "bin(" in text:
        return "bin"
    if re.search(r"\|\s*where\b", text) and "summarize" not in text:
        return "point"
    return "other"


def main():
    with open(SOURCE) as f:
        gates = GATE.findall(f.read())
    counts = {}
    for _, triple, plain in gates:
        k = kind(triple or plain)
        counts[k] = counts.get(k, 0) + 1
    mixed = sum(v for k, v in counts.items() if k != "other")
    print(f"{len(gates)} kql_* gate texts")
    for k in ("point", "top", "bin", "join", "other"):
        share = f"  share {counts.get(k, 0) / mixed:.3f}" if k != "other" else ""
        print(f"{k:6s} {counts.get(k, 0):4d}{share}")


if __name__ == "__main__":
    main()
