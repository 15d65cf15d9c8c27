"""Checked-in fingerprint of the extraction kernel's output.

One sha256 per archetype over a fixed slice of the ``pages`` corpus,
plus one per adversarial input and one per non-page route
(``adversarial_pages``: PDF, feeds, robots.txt, degraded and empty
documents), each over every
field ``extract_document`` returns.  Any change in kernel behaviour
fails here until it is re-blessed on purpose: print the current digests
with ``python tests/test_kernel_fingerprint.py`` and record the reason
for the re-bless in CHANGES.md.  The test runs through both HTML
parsers (native and Python); both must give the blessed digests.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]  # also when run as a script

from adversarial_pages import ADVERSARIAL, ROUTES  # noqa: E402
from exstruct_spark.kernels.extract import extract_document  # noqa: E402
from exstruct_spark.pages import (  # noqa: E402
    ARCHETYPES, RICH_ARCHETYPES, build_page, build_rich_page)

PAGES_PER_ARCHETYPE = 4


def _slice():
    """``(group, url, raw html)`` in a fixed order."""
    for i in range(PAGES_PER_ARCHETYPE * len(ARCHETYPES)):
        page = build_page(i)
        yield "page:" + page["archetype"], page["url"], page["html"]
    for i in range(2 * len(RICH_ARCHETYPES)):
        page = build_rich_page(i)
        yield "rich:" + page["archetype"], page["url"], page["html"]
    for name, raw in ADVERSARIAL:
        yield "adversarial:" + name, f"https://adversarial.example/{name}", raw
    for name, raw in ROUTES:
        yield "route:" + name, f"https://routes.example/{name}", raw


def fingerprints() -> dict:
    hashes: dict = {}
    for group, url, raw in _slice():
        record = extract_document(url, raw)
        h = hashes.setdefault(group, hashlib.sha256())
        h.update(json.dumps(record, sort_keys=True, ensure_ascii=False,
                            default=str).encode())
    return {group: h.hexdigest() for group, h in sorted(hashes.items())}


BLESSED = {
    'adversarial:astral_and_cjk': 'ea8785735a523f9551ce687b5268e00ffc33ab35e7a4e57a8eeae1a84657df11',
    'adversarial:backface_visibility': 'a6fe25d4607ec80e421cb67404e1a24e60cebe5f117f47c83fa36e18ef59d950',
    'adversarial:bare_comment_open_newline': '9259d8e561234f48267f8c396cef86323b7e6ccb903cec167744739bb6026e3e',
    'adversarial:cdata_before_final_newline': 'f703dd4833a98d7edb688b7017fdcfe43333af838a483b38c02c6481678922fd',
    'adversarial:chart_call_forms': '565ee09e4bceae669dec90b7d166f0d4cb5fa34a8e1025fdcbd5db70b78dda72',
    'adversarial:chart_code_view': '6b34ddd987884c4f53cfa1913ce37783aea71d2d0ebb49a05a895547c7daddba',
    'adversarial:chart_marker_near_misses': 'f30d3087fc21c1661553dbcc5ddbf0022ebd21701e30d30ccb94123cfa889897',
    'adversarial:comment_before_final_newline': '1afc486f1e1548d4cb0f984b2080c50870c2be1200c5d5703c21399815ecf580',
    'adversarial:comment_in_script': 'aa5513c72b1e6f0a045084d7c6a3a373984fad793708f9a37d8c2d10519ca940',
    'adversarial:comment_in_style': '36c7e54ce3d6a1bf798b08dec7e879aa41466c822b8f4af3043d0b37fa21bbd8',
    'adversarial:deep_nesting': 'a69eab4eb3c7a9bc8b5777ef4c9f76fb3c4fac89baa7c733fede21ba4db6296f',
    'adversarial:duplicate_attrs': '3956e3da8fd8f5fdc31566ac0a371e862826fc49c84743626656d2707dbfb083',
    'adversarial:empty': 'c77a45f4fadf47f1b8083b09c5c4cd4660cbae404c30971d1d0c29191e849152',
    'adversarial:entities': '338f59206561a29775401636d671fd843af46c12a839cf1df37fa0e09cc8590a',
    'adversarial:hidden_descendants': '62e84af36066465687c80b3f30ad45c9da1df7be0be2cf88b44d8cc8c956ae6e',
    'adversarial:huge_attribute': '2231fc0ead614f8ce3b55bfbc3ac08cb3ba103703ac5c3b9b716683ac2ba574e',
    'adversarial:non_utf8_garbage': '48a51fdda940aa25f03b7ffacbc42dd7d6ffead40299fb234ad9736f4e4a2771',
    'adversarial:non_utf8_latin1': 'd83368469601ae2407716ab81aedc989aed16eb497148cd6963d727b43426ea2',
    'adversarial:script_close_unicode_fold': 'a4921f0ae846c7caf348f4e0b7b8af7d249db1a3d7a5a6286a2a96631a3f0138',
    'adversarial:script_close_word_boundary': 'e8d21eedd24876b36f753f9eca07b52f406adde00f6e741ef0ff3bf11550c6ce',
    'adversarial:self_closing_slash': 'e0535f44a886c7986aca6cbc8317f7e9b3af9c75184fa9f9b798164a1cc31885',
    'adversarial:serializer_values': 'e357c1d8fde908dea3facec6f650ae80ca8b35e3ce38591c3eb8aa00cfe44cc3',
    'adversarial:stray_angles': '0fb8df3c988f01eb57ebdb8db48b21c28af1ad48222a5ea75c9cdcafb606f400',
    'adversarial:style_close_spaced': '8faf9926bfc9d2525311fa35be3491125d4100a569acb6fbc9927615eb45f0c4',
    'adversarial:template_rows': '38d2dbf2ef916e3e0be53551c4f8bca6410150635164127356d9fd057d4616cd',
    'adversarial:unrendered_content_root': '01f24c6b0a8f5b52656c54e9d8356e7cc602077a486da8beaa1ce7e779f56f48',
    'adversarial:unterminated_attr_quote': '2ec6bb490257606d8d5d49880563021fbd05334f1f009407337855ddd7b20cc8',
    'adversarial:unterminated_comment': '509b0f79f2d7367ba0a260e868b658fb17ea94ad5045ce7574e990c540e39ff7',
    'adversarial:unterminated_quote_closed_later': 'c7a3137c43a525dd3f9350afed1ae91ea7d64073c830594afab41e482394aa36',
    'adversarial:upper_script_close': 'dc2fda1307b08643f776ae49ddcb72a1347ed28e6f01af6717376ec600e54fff',
    'adversarial:utf16_be_bom': 'b6f23e1336b90fd316edb542bb98ee636d835ba319f7650abfd0d9aa7a068d47',
    'adversarial:utf16_le_bom': '415524822413386b95ad79aa70f3d359cef1b090bebc6ee16922b596de28b75d',
    'page:basic_table': 'eb1accf4f5ce5c4d62227a0a8ab34eb94ef6c6865da828bd78a41ec1be0df03f',
    'page:boilerplate_heavy': '68ad0d735f0d52028b0ec0f4124c9ec272fcfa412a910bf08c28429929d4ead1',
    'page:chart_embed': 'dc004dfc499aed709b2d895fc65468f5ccd142854d530c18eb6c9c0e9ff0af7d',
    'page:flowchart_svg': 'f1fd9dbccc0f3d30386e7524d3a141c3c2a315a49702d9831813a4e519c0fae5',
    'page:gantt': 'c0b0e80bd56b3f3abdacab742659fcc2799b17211c822030007882382d79af03',
    'page:heuristic_table': 'c28abf6661e281e52b649d9056afdc0fb764b2ae1cb39c71ef97ddab33e0eeb6',
    'page:hyperlink_rich': '210b3f47de58c784efa94595ea18d2187f3fc362095d11c6e948ea783e1d75f0',
    'page:malformed': 'fb6f4e543783381a85f6f1884766639611ef1bb45df6abe9b6ac7a7ad1914439',
    'page:merged_form': '271bddbecd534dd3800ee4cf7763b2f08bc4e4abed44add8b2a50bad13ef62da',
    'page:nested_list': '2d308952365d05ee582808bd44c2af2550a78e161343a412aa4babc41daa08ad',
    'rich:amcharts_chart': '2ab180fe3176bcdf0709689ad5dad69aa271b4e156eea587cd60599cf919c7e0',
    'rich:apex_chart': 'c53d1f01084dd6f1ac62a5a8c179db18b5b136f1d29951e3097637e22b8ffe6e',
    'rich:aria_grid': '618e45b9dff3cd9287d061338c905e08b0f737119a48dfa67866022da34c2fa9',
    'rich:atom_feed': '1c6de4ed5846d372ee29d54104ea54147e4724c0063442a8a6a07e4dad5b2ee8',
    'rich:bordered_grid': '4805684cde0e8c20bae017e977e6a72aae8230882457fa701429ab64dbd7a0a7',
    'rich:c3_chart': 'c1fc4b017eda7bab681368334e03900aa8134dab59db9b9923b39483c3c96c8f',
    'rich:chartist_chart': '59b49aa4a026ac86452fb21bbc9fad3e6dec624476b92c1b0fbff0feccc9ea03',
    'rich:colored_table': '404dd61eb02694ba077758e85756de004aad60c944c50e7518d145b9e7d685ce',
    'rich:divider_table': '89ffd45a46c63355b682bca85a974ab5e790aea412cf09a26b2d71991aad99eb',
    'rich:dygraph_chart': '2fae3e351498fbe7477e85e683d7d56ec8648d6d769447e544989a25bd40ae77',
    'rich:frappe_chart': 'c5bfbb821963aeeb1e8c1567fe3dd5610f256d3e2ff2ba0cc0977c028539b0e1',
    'rich:fusioncharts_chart': 'e50047f93237ed2df636c51f67910a165d7207054d7b42dc641086426d1424c2',
    'rich:gviz_chart': '266512de12106114f39526e8073be21da62c6b0475e959adf017dd19929c142f',
    'rich:highcharts_chart': 'ec20c5f8600357ccd2a857be80bb786be10275be5621bea406baf85ac88929b5',
    'rich:plotly_chart': 'a3a0f6d19a93520b78c5089505e63e078cd8db5f319469d6c1297a6d09dd37a2',
    'rich:responsive_gallery': 'ca699bfcef9f85d69271669a32f4e8e9cca106034247a2b67643dd28a6b60ce4',
    'rich:rss_feed': 'adfda3d64ffcf2919de9d6cdf5c5d5df28e926c9977893561299c7c4d8859c37',
    'rich:script_chart': 'a89aab72a20224f81220c1dddcd247f3c4634b8f275721fba7e66ebf66212d55',
    'rich:sitemap_doc': 'a37e526611c193b87b9673bbad48bb6341c7184ac37f9275448ea9b50368726b',
    'rich:split_grid': '94ffe2b6b7a541f29887b4d028f0d146d9f669a7151099efdb9d1ea70475ef53',
    'rich:striped_table': '1777dbc55ec2d456ab0060248fa07dca1f5f6fa0f9b9dfeae7064c4324be786b',
    'rich:structured_article': '16c2923cd085eb62b10ea415064a1c708726500d3deb84d8fa9d0e6fa636bc3c',
    'rich:styled_grid': '2da9882d5819720d71d62d1bb196bdd789d67aa6d0600a5b2a96d0e244469825',
    'rich:styled_grid_descendant': '2b65c6aceaf144411390ec3667e8d10ac40c8b6147cea30a92e16f608d28fae6',
    'rich:unit_chart': '99451dd007f128a85f9c57f72fd3c78339b0e98cc94fe8fd0510554d6f025046',
    'rich:vegalite_chart': '9559eea84715c82673e4a2c58efb670d7ff64fcf7f493b5f1295213ece0c56ef',
    'rich:wired_flowchart': 'a4363edab838445710960ba14fce994309eb3cb4c7264f7af36a619675d97021',
    'route:json_feed': '7a3f4e4d27ad0f5b1434221dedab460b67d323741b7d507b7db14760928b99ff',
    'route:json_feed_malformed': 'b66d0adf9951d0f1be87b330a276d98216c2016ad20e22bb9a824c5fdfeac396',
    'route:markup_without_main_text': 'c1a5be2494497dcd26684da10bbfd74986080c4104fa8e8c3bc3995405ae0582',
    'route:pdf_minimal': 'ec1b775fcf2b06aa48840422f4c11da5030c6d3c88a4a0218ce2f2e4f2bbf79e',
    'route:robots_txt': '223818c6065b81a45a5b481c711d69621a60a990a71d69982ca4f3960753bd32',
    'route:whitespace_only': '248174079c513d77e1390b62d254684aa4e4440bf7889cb7036904e10dc4db3a',
}


def test_kernel_fingerprint(parser):
    got = fingerprints()
    changed = sorted(g for g in got.keys() | BLESSED.keys()
                     if got.get(g) != BLESSED.get(g))
    assert not changed, f"kernel output changed for {changed} ({parser} parser)"


if __name__ == "__main__":
    for group, digest in fingerprints().items():
        print(f"    {group!r}: {digest!r},")
