"""Performance benchmark of the Form 700 publish dataflow (see README.md)."""
