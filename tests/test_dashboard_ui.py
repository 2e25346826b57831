"""End-to-end drive of the bundled dashboard SPA's JavaScript.

Runs the page's script under Node with a minimal DOM stub against a real
served store (run list → detail → charts → compare → live append), so a
refactor of server payload shapes or the UI wiring fails here rather
than in a browser.  Gated on a `node` binary being present (it is in
this container; skipped elsewhere).
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
from pathlib import Path

import pytest

pytestmark = pytest.mark.skipif(
    shutil.which("node") is None, reason="node not installed"
)

_PRELUDE = r"""
const fs = require('fs');
let src = fs.readFileSync(process.argv[2], 'utf8').replace("'use strict';", "");
// top-level let/const don't survive eval(); rewrite to var for the harness
src = src.replace(/^let /gm, 'var ').replace(/^const /gm, 'var ');
const BASE = process.argv[3];
function makeEl(id) {
  return {
    id, _inner: '', style: {}, dataset: {}, hidden: false, value: '',
    children: [], classList: {
      _s: new Set(),
      toggle(c, on) { on ? this._s.add(c) : this._s.delete(c); },
      add(c) { this._s.add(c); }, remove(c) { this._s.delete(c); },
    },
    set innerHTML(v) { this._inner = v; this.children = []; },
    get innerHTML() { return this._inner; },
    set textContent(v) { this._inner = String(v); },
    get textContent() { return this._inner; },
    appendChild(c) { this.children.push(c); return c; },
    querySelector() { return makeEl('q'); },
    querySelectorAll() { return []; },
    setAttribute() {}, offsetParent: {},
  };
}
const els = {};
const $ = id => els[id] ?? (els[id] = makeEl(id));
global.document = {
  getElementById: $, createElement: t => makeEl(t),
  createElementNS: (ns, t) => makeEl(t), querySelectorAll: () => [],
};
global.location = {protocol: 'http:', host: BASE.replace('http://', '')};
global.WebSocket = function() { setTimeout(() => this.onclose && this.onclose(), 5); };
global.confirm = () => false;
const realFetch = global.fetch;
global.fetch = (url, opts) =>
  realFetch(url.startsWith('http') ? url : BASE + url, opts);
// the page's globals live in main()'s eval scope: poll through a getter
async function loaded(runs) {
  for (let i = 0; i < 80 && runs().length === 0; i++)
    await new Promise(r => setTimeout(r, 250));
}
function finish(out) { console.log(JSON.stringify(out)); process.exit(0); }
"""

_FLOWS = _PRELUDE + r"""
async function main() {
  eval(src);
  await loaded(() => runs);
  const out = {runs: runs.length};
  await loadSummaryKeys();
  $('sumKey').value = 'loss';
  await drawSummary();
  out.summary_bars = ($('sumChart').children[0]?._inner.match(/<rect/g) || []).length;
  await openDetail(runs[0]);
  out.params_rendered = $('params')._inner.includes('lr');
  $('metKey').value = 'loss';
  drawBigChart();
  out.big_chart_path = /path d="M/.test($('bigChart').children[0]?._inner || '');
  out.small_charts = $('smallCharts').children.length;
  out.sys_charts = $('sysCharts').children.length;
  picked.add(runs[0].id); picked.add(runs[1].id);
  await openCompare();
  out.param_diff_table = $('pdiff')._inner.includes('<table');
  out.diff_highlight = $('pdiff')._inner.includes('class="diff"');
  out.compare_charts = $('cmpCharts').children.length;
  liveMsg({type: 'metric', run_id: runs[0].id, key: 'loss',
           step: 9999, ts: 1, value: 0.5});
  out.live_append = series.some(m => m.step === 9999);
  // escaping: a hostile metric key / run name must not inject raw markup
  const hostile = makeEl('x');
  lineChart(hostile,
    [{pts: [[0, 1]], color: '#000', name: '<img src=a>'},
     {pts: [[0, 2]], color: '#111', name: 'b'}],
    100, 'loss<img src=x>');
  const rendered = hostile.children.map(c => c._inner).join('');
  out.title_escaped = !rendered.includes('<img') && rendered.includes('&lt;img');
  finish(out);
}
main().catch(e => { console.error('HARNESS FAIL', e); process.exit(1); });
"""

_NAN_RUN = _PRELUDE + r"""
async function main() {
  eval(src);
  await loaded(() => runs);
  await openDetail(runs[0]);
  $('metKey').value = 'loss';
  drawBigChart();
  const d = ($('bigChart').children[0]?._inner.match(/path d="([^"]*)"/) || [])[1] || '';
  finish({big_chart_points: (d.match(/[ML]/g) || []).length,
          small_charts: $('smallCharts').children.length});
}
main().catch(e => { console.error('HARNESS FAIL', e); process.exit(1); });
"""


@pytest.fixture(scope="module")
def ui_base(spark, tmp_path_factory):
    import waddleml_spark as w
    from waddleml_spark import state
    from waddleml_spark.server import serve_in_thread

    store = str(tmp_path_factory.mktemp("ui") / ".waddle")
    last = None
    for j, (name, lr) in enumerate([("a", 0.01), ("b", 0.1)]):
        state.set_active_run(None)
        run = w.init(project="ui", name=name, store_path=store,
                     system_metrics=False, spark=spark, config={"lr": lr})
        for step in range(5):
            run.log({"loss": 1.0 / (step + 1 + j), "acc": 0.1 * step,
                     "system/cpu": 50.0 + step})
        run.finish()
        last = run
    server = serve_in_thread(last._store, port=0)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()
    state.set_active_run(None)


def _run_harness(harness_src: str, base: str, tmp_path) -> dict:
    page = (
        Path(__file__).resolve().parents[1]
        / "waddleml_spark" / "static" / "index.html"
    )
    m = re.search(r"<script>\n(.*?)</script>", page.read_text(), re.S)
    assert m, "bundled page lost its script"
    js = tmp_path / "dash.js"
    js.write_text(m.group(1))
    harness = tmp_path / "harness.js"
    harness.write_text(harness_src)
    proc = subprocess.run(
        ["node", str(harness), str(js), base],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spa_flows_under_node(ui_base, tmp_path):
    out = _run_harness(_FLOWS, ui_base, tmp_path)
    assert out == {
        "runs": 2,
        "summary_bars": 2,          # one bar per run
        "params_rendered": True,
        "big_chart_path": True,     # SVG line for the selected metric
        "small_charts": 2,          # loss + acc (system/ excluded)
        "sys_charts": 1,            # system/cpu
        "param_diff_table": True,
        "diff_highlight": True,     # lr differs between the runs
        "compare_charts": 2,
        "live_append": True,
        "title_escaped": True,
    }


def test_run_with_a_nan_point_still_charts_its_finite_points(tmp_path):
    """A diverged metric is served as null; the run view must still draw
    every key, the NaN key from its finite points."""
    import waddleml_spark as w
    from waddleml_spark import state
    from waddleml_spark.server import serve_in_thread

    state.set_active_run(None)
    run = w.init(project="nan", store_path=str(tmp_path / ".waddle"), system_metrics=False)
    for step, loss in enumerate([1.0, float("nan"), 0.5, 0.25]):
        run.log({"loss": loss, "acc": 0.1 * step})
    run.finish()
    state.set_active_run(None)
    server = serve_in_thread(run._store, port=0)
    try:
        out = _run_harness(_NAN_RUN, "http://%s:%d" % server.server_address, tmp_path)
    finally:
        server.shutdown()
    assert out == {"big_chart_points": 3, "small_charts": 2}
