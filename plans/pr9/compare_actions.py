#!/usr/bin/env python3
"""Per-operator compare of two forced-distributed action records.

Usage: compare_actions.py <parent record> <change record>

A record holds, per operator, a `==== <name> ====` header, one summary
line (result schema, row count, md5 of the sorted rows, Spark job count,
action count) and then the executed plan of every Dataset action. For
each operator this prints whether the results match, the job and action
counts on both sides, and for every action whether its executed plan has
the same operator-name sequence; for an action that differs it prints
the operator names only one side has.
"""
import collections
import re
import sys


def sections(path):
    out, name = collections.OrderedDict(), None
    for line in open(path):
        line = line.rstrip('\n')
        m = re.match(r'^==== (.+) ====$', line)
        if m:
            name = m.group(1)
            out[name] = {'summary': None, 'actions': []}
        elif name and out[name]['summary'] is None:
            out[name]['summary'] = line
        elif name and line.startswith('-- '):
            out[name]['actions'].append([line])
        elif name and out[name]['actions']:
            out[name]['actions'][-1].append(line)
    return out


def ops(lines):
    names = []
    for line in lines[1:]:
        t = re.sub(r'^\*\(\d+\)\s*', '', re.sub(r'^[\s:+\-|]*', '', line))
        m = re.match(r'([A-Z][A-Za-z]+)', t)
        if m:
            names.append(m.group(1))
    return names


def summary(s):
    return dict(re.findall(r'(schema|rows|md5|jobs|actions) (\S+)', s))


def main(a_path, b_path):
    a, b = sections(a_path), sections(b_path)
    for name in a:
        sa, sb = summary(a[name]['summary']), summary(b[name]['summary'])
        same = all(sa[k] == sb[k] for k in ('schema', 'rows', 'md5'))
        print(f'{name}: result_same={same} rows={sa["rows"]} jobs {sa["jobs"]}->{sb["jobs"]} '
              f'actions {sa["actions"]}->{sb["actions"]}')
        for i, (x, y) in enumerate(zip(a[name]['actions'], b[name]['actions'])):
            ox, oy = ops(x), ops(y)
            line = f'  action {i + 1} {x[0][3:]}: ops_same={ox == oy} {len(ox)}->{len(oy)}'
            if ox != oy:
                cx, cy = collections.Counter(ox), collections.Counter(oy)
                line += f' parent-only={dict(cx - cy)} change-only={dict(cy - cx)}'
            print(line)


if __name__ == '__main__':
    main(sys.argv[1], sys.argv[2])
