from . import pyworker as _pyworker

if _pyworker.in_worker():
    _pyworker.install()
