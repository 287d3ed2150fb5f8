#!/usr/bin/env python3
"""Per-query plan compare of two `graft.tools.Explain` outputs.

Usage: compare_plans.py <parent explain output> <change explain output>

For each query it prints whether the formatted physical plan has the same
operator sequence, its Exchange count on both sides and whether the join
strategies match, then whether the executed plan's operator-name sequence
matches.
"""
import re
import sys

NODE = re.compile(r'^(\*\(\d+\) )?[A-Z][A-Za-z]+')
DETAIL = re.compile(r'^(Input|Output|Arguments|Keys|Functions|Aggregate|Results|Join|Left|Right|'
                    r'Condition|Batched|Location|ReadSchema|PushedFilters|Format|Stage|Subquery|'
                    r'Scan|InMemory|\w+ \[)')


def sections(path):
    out, name, buf = {}, None, []
    for line in open(path):
        m = re.match(r'^==== (\S+) ====$', line.rstrip('\n'))
        if m:
            if name:
                out[name] = buf
            name, buf = m.group(1), []
        elif name:
            buf.append(line.rstrip('\n'))
    if name:
        out[name] = buf
    return out


def formatted_ops(lines):
    """Operator lines of the formatted plan's tree, node numbers removed."""
    ops, on = [], False
    for line in lines:
        if line.startswith('== Physical Plan =='):
            on = True
            continue
        if on:
            if not line.strip():
                break
            t = re.sub(r'^[\s:+\-|]*', '', line)
            ops.append(re.sub(r'\s*\(\d+\)\s*$', '', t).strip())
    return ops


def executed_ops(lines):
    """Operator names of the executed plan, which Explain prints last."""
    start = None
    for i, line in enumerate(lines):
        if line.startswith('AdaptiveSparkPlan isFinalPlan') or (
                NODE.match(line) and not DETAIL.match(line) and '(' not in line.split(' ')[0]):
            start = i
    if start is None:
        return []
    ops = []
    for line in lines[start:]:
        t = re.sub(r'^\*\(\d+\)\s*', '', re.sub(r'^[\s:+\-|]*', '', line))
        m = re.match(r'([A-Za-z]+)', t)
        if m:
            ops.append(m.group(1))
    return ops


def main(parent_path, change_path):
    a, b = sections(parent_path), sections(change_path)
    print('# per query: formatted-plan operator sequence, Exchange count and join strategies'
          ' (parent -> change)')
    for q in a:
        fa, fb = formatted_ops(a[q]), formatted_ops(b.get(q, []))
        ea, eb = (sum('Exchange' in o for o in ops) for ops in (fa, fb))
        ja, jb = ([o for o in ops if 'Join' in o] for ops in (fa, fb))
        name_only = lambda ops: [o if 'Join' in o else re.sub(r'\s.*', '', o) for o in ops]
        print(f'{q}: ops_same={name_only(fa) == name_only(fb)} ops {len(fa)}->{len(fb)} '
              f'exch {ea}->{eb} joins_same={ja == jb} {sorted(set(ja))}')
    for q in a:
        xa, xb = executed_ops(a[q]), executed_ops(b.get(q, []))
        print(f'{q} executed-plan operators same: {xa == xb} {len(xa)}->{len(xb)}')


if __name__ == '__main__':
    main(sys.argv[1], sys.argv[2])
