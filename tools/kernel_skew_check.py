"""Former name of ``python tools/skew_audit.py kernel_skew``, kept for the comments that cite it."""
if __name__ == "__main__":
    import skew_audit

    skew_audit.main("kernel_skew")
