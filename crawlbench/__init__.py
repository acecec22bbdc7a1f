"""Engine-level crawl benchmark: drives the real CrawlEngine through its
public API on seeded synthetic fixtures, checks the outputs against the
reference simulator, and reports end-to-end metrics (untraced runs) or
per-layer metrics (traced runs). Entry point: ``python3 crawlbench/run.py``.
"""
