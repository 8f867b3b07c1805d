#!/usr/bin/env python3
"""Write src/test/resources/ohlcv_1h_300.csv: a deterministic 300-row hourly
OHLCV slice in the reference corpus's CSV layout
(datetime,open,high,low,close,volume), input of PandasParitySpec and of
tools/gen_goldens.py.

It carries the corpus's irregularities:
  - gaps: two stretches of missing hours (2 h after row 60, 5 h after row 220);
  - a flat run: rows 130-175 repeat one price with zero volume, the shape
    of an exchange outage filled by the feed;
  - NaN bars: rows 40, 41 and 250 have every OHLCV field empty.

Usage: python3 tools/gen_ohlcv_fixture.py
"""
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np

ROWS = 300
GAPS = {60: 2, 220: 5}          # row index -> hours skipped after it
FLAT = range(130, 176)
NAN_ROWS = {40, 41, 250}

rng = np.random.default_rng(20150101)
ts = datetime(2015, 1, 1, 1)
close = 315.0
lines = ['datetime,open,high,low,close,volume']
for i in range(ROWS):
    open_ = close
    if i in FLAT:
        o = h = l = c = close
        vol = 0.0
    else:
        c = round(open_ * float(np.exp(rng.normal(0.0, 0.006))), 2)
        h = round(max(open_, c) + abs(float(rng.normal(0.0, 0.8))), 2)
        l = round(min(open_, c) - abs(float(rng.normal(0.0, 0.8))), 2)
        o = open_
        vol = round(float(rng.lognormal(5.0, 0.8)), 8)
        close = c
    stamp = ts.strftime('%Y-%m-%d %H:%M:%S')
    if i in NAN_ROWS:
        lines.append(f'{stamp},,,,,')
    else:
        lines.append(f'{stamp},{o},{h},{l},{c},{vol}')
    ts += timedelta(hours=1 + GAPS.get(i, 0))

out = Path(__file__).resolve().parents[1] / 'src/test/resources/ohlcv_1h_300.csv'
out.parent.mkdir(parents=True, exist_ok=True)
out.write_text('\n'.join(lines) + '\n')
print(f'wrote {out} ({ROWS} rows)')
